package graft.ops

import scala.collection.mutable
import scala.util.DynamicVariable

import org.apache.spark.sql.Dataset

/** Lexical persist-lifecycle scope for multi-branch query DAGs.
  *
  * Operators whose plans traverse an intermediate table more than once
  * (Dedup's shingle/signature/bitmap tables) persist it so each branch
  * doesn't recompute the pipeline. A persist, though, outlives the query:
  * in a long-lived service the cached blocks accumulate until the session
  * dies. This scope ties the lifetime to the CONSUMER's action instead:
  *
  * {{{
  * CacheScope.scoped {
  *   Dedup.ngramJaccardPairs(docs, "id", "text", 5, 0.8)
  *     .write.parquet(out)            // action runs with caches live
  * }                                  // ← every tracked persist released
  * }}}
  *
  * Operators call `CacheScope.cached(df)` instead of `df.persist()`: with
  * an active scope the Dataset is tracked and unpersisted when the scope
  * exits (even on failure); with no scope it degrades to a plain
  * session-lifetime persist, so ad-hoc/notebook use is unchanged. Scoping
  * is thread-local (DynamicVariable), matching Spark's driver-side,
  * per-thread query submission model.
  */
object CacheScope {

  private val active =
    new DynamicVariable[Option[mutable.Buffer[Dataset[_]]]](None)

  /** Persist `ds`, tracked by the innermost active scope (if any). */
  def cached[T](ds: Dataset[T]): Dataset[T] = {
    ds.persist()
    active.value.foreach(_ += ds)
    ds
  }

  /** Run `body`; on exit unpersist every Dataset `cached` within it. */
  def scoped[T](body: => T): T = {
    val tracked = mutable.Buffer.empty[Dataset[_]]
    active.withValue(Some(tracked)) {
      try body
      finally tracked.foreach(_.unpersist(blocking = false))
    }
  }

  // ---- run-wide keyed memo -------------------------------------------
  //
  // Some intermediates are shared by a FAMILY of registry queries (the
  // five winnow queries all derive from one selected-fingerprint set and
  // one candidate-pair list). Per-query `scoped{}` releases them between
  // queries, so a full Verify/Bench sweep recomputed them five times. A
  // harness opens `sharedScope` around the WHOLE sweep; `memoized(key)`
  // then builds+persists each keyed intermediate once per run and the
  // outer scope releases everything at the end. With no shared scope
  // active (tests, notebooks), `memoized` degrades to `cached` — the
  // per-call semantics the operators had before.

  private val shared =
    new DynamicVariable[Option[mutable.Map[String, Dataset[_]]]](None)

  /** Open a run-wide registry for [[memoized]]; unpersists every memoized
    * Dataset on exit. Nest per-query [[scoped]] blocks inside freely. */
  def sharedScope[T](body: => T): T = {
    val reg = mutable.Map.empty[String, Dataset[_]]
    shared.withValue(Some(reg)) {
      try body
      finally reg.values.foreach(_.unpersist(blocking = false))
    }
  }

  /** Build-once-per-run keyed persist (key must encode the inputs, e.g.
    * the sf dir). Falls back to [[cached]] when no shared scope is open. */
  def memoized[T](key: String)(build: => Dataset[T]): Dataset[T] =
    shared.value match {
      case Some(reg) =>
        reg.getOrElseUpdate(key, { val d = build; d.persist(); d })
          .asInstanceOf[Dataset[T]]
      case None => cached(build)
    }

  // ---- disk-persisted run-wide memo ----------------------------------
  //
  // A persist()-backed memo is still LIVE LINEAGE: under memory pressure
  // blocks evict and downstream consumers recompute the full build — on
  // a contended host the dedup family's shingle+md5 signature pass can
  // replay several times (VERDICT r9 finding #2: 104.5 s booked for a
  // family an uncontended run does in 8.9 s). `memoizedDisk` instead
  // writes the built table ONCE to a write-once parquet sidecar under
  // the harness's scratch root and hands consumers a plain parquet scan
  // of it: re-reads cost a flat columnar scan, never a recompute, no
  // matter what the block manager evicts. Falls back to [[memoized]]
  // when no scratch root is configured (tests, notebooks — semantics
  // unchanged there).

  private val scratch = new DynamicVariable[Option[String]](None)

  /** [[sharedScope]] plus a scratch directory for [[memoizedDisk]]
    * sidecars; the directory is deleted recursively on exit. */
  def sharedScopeWithScratch[T](scratchDir: String)(body: => T): T =
    scratch.withValue(Some(scratchDir)) {
      try sharedScope(body)
      finally deleteRecursively(new java.io.File(scratchDir))
    }

  /** Build-once-per-run keyed memo persisted THROUGH DISK: with a
    * scratch root active, the first call writes `build`'s result to a
    * parquet sidecar and every consumer (including the first) reads the
    * sidecar back — the memo entry is a flat scan, not live lineage. */
  def memoizedDisk(key: String)(
      build: => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    (shared.value, scratch.value) match {
      case (Some(reg), Some(root)) =>
        reg.getOrElseUpdate(key, {
          val safe = key.replaceAll("[^A-Za-z0-9._-]", "_")
          val path = s"$root/$safe"
          val built = build
          built.write.mode("overwrite").parquet(path)
          built.sparkSession.read.parquet(path)
        }).asInstanceOf[org.apache.spark.sql.DataFrame]
      case _ => memoized(key)(build)
    }

  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }
}
