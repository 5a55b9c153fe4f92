package graft.core

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the [[Derived]] contracts. Slots: scoped per (application,
  * name, dir, thread), so two OVERLAPPING builders of the same slot —
  * necessarily on different threads — can never free a generation the
  * other is still reading, while within one thread the superseded
  * generation is freed eagerly, and two dirs never free each other's.
  * Memos: one build per (application, dir) and generation, with nested
  * builds allowed and a superseded generation no longer held. */
class DerivedSpec extends SparkSpec {

  test("two overlapping builders of the same site both read their " +
      "own live generation (no lost-block failure)") {
    import scala.jdk.CollectionConverters._
    val nThreads = 4
    val rounds = 5
    val errors =
      new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    // Each thread repeatedly: builds a slot checkpoint of a
    // thread-tagged frame, yields so the threads interleave, then
    // CONSUMES it. Were slots global rather than per thread, thread
    // B's registration would free thread A's generation between A's
    // build and A's read — a missing-block failure; per-thread slots
    // make the interleaving safe.
    val threads = (1 to nThreads).map { t =>
      new Thread(() => {
        try {
          for (r <- 1 to rounds) {
            val df = spark.range(100)
              .select((col("id") + lit(t * 1000 + r)).as("v"))
            val ck = Derived.slot("spec_overlap", spark, "d")(df)
            Thread.sleep(10) // force overlap with the other builders
            val got = ck.agg(sum(col("v"))).head().getLong(0)
            val want = (0L until 100L).map(_ + t * 1000 + r).sum
            assert(got == want, s"thread $t round $r: $got != $want")
          }
        } catch { case e: Throwable => errors.add(e) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errors.isEmpty,
      s"overlapping builders failed: ${errors.asScala.toList}")
  }

  test("same-thread supersession still frees the previous generation " +
      "eagerly") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val g1 = Derived.slot("spec_eager", spark, "d")(
      spark.range(10).toDF("v"))
    g1.count()
    val g1Ids = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(g1Ids.nonEmpty, "checkpoint registered no persistent RDD")
    Derived.slot("spec_eager", spark, "d")(spark.range(20).toDF("v"))
      .count()
    // the superseded generation leaves the persistent-RDD registry
    // the moment the successor registers (unpersist is non-blocking
    // for the blocks, synchronous for the registry — poll briefly)
    val freed = (1 to 50).exists { _ =>
      val gone = (spark.sparkContext.getPersistentRDDs.keySet
        .intersect(g1Ids)).isEmpty
      if (!gone) Thread.sleep(20)
      gone
    }
    assert(freed, "previous generation still registered as persistent")
  }

  test("two dirs on one thread both keep their slot generation live") {
    val a = Derived.slot("spec_dirs", spark, "dir_a")(
      spark.range(10).toDF("v"))
    val b = Derived.slot("spec_dirs", spark, "dir_b")(
      spark.range(20).toDF("v"))
    // a slot keyed without its dir would have freed `a` when `b`
    // registered, and this read would fail on the missing blocks
    assert(a.agg(sum(col("v"))).head().getLong(0) == 45L)
    assert(b.agg(sum(col("v"))).head().getLong(0) == 190L)
  }

  test("a memo builds once per (application, dir), and a build may " +
      "call another memo") {
    val inner = Derived.Memo[Long]("spec_inner")
    val outer = Derived.Memo[Long]("spec_outer")
    val builds = new AtomicInteger()
    def innerOf(dir: String): Long =
      inner(spark, dir) { builds.incrementAndGet(); dir.length.toLong }
    def outerOf(dir: String): Long =
      outer(spark, dir) { builds.incrementAndGet(); innerOf(dir) * 10 }
    assert(outerOf("dir_a") == 50L)
    assert(builds.get == 2, "outer + nested inner build")
    assert(outerOf("dir_a") == 50L && innerOf("dir_a") == 5L)
    assert(builds.get == 2, "a second call rebuilt")
    assert(outerOf("dir_bb") == 60L)
    assert(builds.get == 4, "another dir shares the first dir's entry")
    assert(inner.size == 2 && outer.size == 2)
  }

  test("a newer generation rebuilds and leaves one entry per " +
      "(application, dir)") {
    val memo = Derived.Memo[Int]("spec_gen")
    val builds = new AtomicInteger()
    def at(dir: String, gen: Long): Int =
      memo(spark, dir, gen)(builds.incrementAndGet())
    assert(at("d", 1L) == 1 && at("d", 1L) == 1)
    assert(at("d", 2L) == 2, "a newer generation did not rebuild")
    assert(at("d", 2L) == 2)
    assert(memo.size == 1, "the superseded generation is still held")
    assert(at("other", 2L) == 3)
    assert(memo.size == 2)
    // generation 1 of "d" was replaced, not kept beside generation 2
    assert(at("d", 1L) == 4)
    assert(memo.size == 2)
  }
}
