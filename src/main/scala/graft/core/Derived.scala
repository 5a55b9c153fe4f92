package graft.core

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Derived state: the one place that decides how a table derived from
  * a dataset is keyed, how long it lives and when it is freed. Every
  * memo and every per-invocation checkpoint in the engine goes through
  * here; no call site builds its own key.
  *
  * Two scopes:
  *
  *  - [[Memo]]: built once per (application, dataset dir) and reused by
  *    every later call in that application — for derivations that are
  *    a pure, deterministic function of the dataset and are read by
  *    several queries or by every invocation of one (shingles, graph
  *    edges, the trained model, ...). Keyed by applicationId, so a new
  *    SparkContext in the same JVM never sees a frame whose checkpoint
  *    blocks died with the previous context. A memo over persisted
  *    index files passes the dataset's index version as `gen`; memos
  *    over raw tables pass none, because nothing appends to a raw table
  *    inside an application (the alert sink and the IVF delta write
  *    only add files of their own), and keying them on the index
  *    version would rebuild them after every first index build.
  *
  *  - [[slot]]: a fresh `localCheckpoint` per invocation, for an
  *    intermediate that the RETURNED frame reads lazily, so the builder
  *    cannot free it. `localCheckpoint` blocks are otherwise reclaimed
  *    only by driver GC, and over a whole sweep the dead generations
  *    pile up in executor storage and slow the queries that follow. A
  *    slot keeps at most one live generation per (application, name,
  *    dir, thread): registering a new one unpersists the previous one
  *    eagerly. Nothing is reused across invocations.
  *
  *    Slots are per thread because two OVERLAPPING builders of the same
  *    slot necessarily run on different threads, and neither may free a
  *    generation the other is still reading; eager freeing applies only
  *    to a generation the same thread superseded (DerivedSpec pins both).
  *    The one unsupported pattern is a thread that builds the same slot
  *    twice and only then reads the FIRST result: a freed
  *    localCheckpoint cannot recompute (its lineage is truncated), so
  *    that read fails with a missing-block error. Consume each result
  *    before rebuilding the same slot on the same thread.
  */
object Derived {

  /** One memoized derivation, declared once as a `val`. `name` labels
    * it; the entries are private to this memo, so names need not be
    * unique. */
  final class Memo[A](val name: String) {
    private val entries = TrieMap.empty[(String, String), (Long, A)]

    /** The value for (application, `dir`) at generation `gen`, built on
      * the first call. An entry built at a different `gen` is replaced,
      * so a superseded generation is no longer held. `build` runs
      * outside any lock, as in `TrieMap.getOrElseUpdate`, because builds
      * nest (one memo's build may call another memo); concurrent first
      * calls may both build, and all of them return the first value
      * installed. */
    def apply(s: SparkSession, dir: String, gen: Long = 0L)(
        build: => A): A = {
      val key = (s.sparkContext.applicationId, dir)
      entries.get(key) match {
        case Some((g, v)) if g == gen => v
        case _ => install(key, (gen, build))
      }
    }

    @annotation.tailrec
    private def install(key: (String, String), fresh: (Long, A)): A =
      entries.get(key) match {
        case Some((g, won)) if g == fresh._1 => won
        case Some(stale) =>
          if (entries.replace(key, stale, fresh)) fresh._2
          else install(key, fresh)
        case None =>
          if (entries.putIfAbsent(key, fresh).isEmpty) fresh._2
          else install(key, fresh)
      }

    /** Entries held, over every application and dir. */
    private[core] def size: Int = entries.size
  }

  object Memo {
    def apply[A](name: String): Memo[A] = new Memo[A](name)
  }

  private val slots =
    TrieMap.empty[(String, String, String, Long), DataFrame]

  /** `df.localCheckpoint()` in the slot (application, `name`, `dir`,
    * current thread); the slot's previous generation is unpersisted. */
  def slot(name: String, s: SparkSession, dir: String)(
      df: DataFrame): DataFrame =
    register(name, s, dir, df.localCheckpoint())

  /** Like [[slot]] but lazy: the blocks materialize inside the first
    * consuming action instead of a dedicated checkpoint job — for slots
    * whose first consumer runs in the same invocation anyway (e.g. a
    * downstream eager checkpoint), so the slot costs no extra scheduler
    * round-trip. */
  def slotLazy(name: String, s: SparkSession, dir: String)(
      df: DataFrame): DataFrame =
    register(name, s, dir, df.localCheckpoint(false))

  private def register(name: String, s: SparkSession, dir: String,
      ck: DataFrame): DataFrame = {
    val key = (s.sparkContext.applicationId, name, dir,
      Thread.currentThread().getId)
    slots.put(key, ck).foreach(
      org.apache.spark.sql.GraftSqlShims.unpersistLocalCheckpoint(_))
    ck
  }
}
