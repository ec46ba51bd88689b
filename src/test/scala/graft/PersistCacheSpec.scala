package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

/** The shared memo registry's contract: one build per (session, key)
  * even under concurrent misses, hits return the same frame, invalidate
  * drops and allows a rebuild.
  */
class PersistCacheSpec extends SparkSpec {

  test("concurrent misses on one key run the build exactly once") {
    val builds = new AtomicInteger(0)
    val key = "spec#concurrent-" + System.nanoTime()
    val futures = (1 to 8).map { _ =>
      Future {
        PersistCache.getOrElseUpdate(spark, key) {
          builds.incrementAndGet()
          Thread.sleep(50) // widen the race window
          spark.range(10).toDF()
        }
      }
    }
    val frames = Await.result(Future.sequence(futures), 30.seconds)
    assert(builds.get() === 1)
    // every caller got the one cached frame
    assert(frames.map(System.identityHashCode).distinct.size === 1)
  }

  test("hits return the cached frame; invalidate forces a rebuild") {
    val builds = new AtomicInteger(0)
    val key = "spec#invalidate-" + System.nanoTime()
    def get() = PersistCache.getOrElseUpdate(spark, key) {
      builds.incrementAndGet()
      spark.range(5).toDF()
    }
    val a = get(); val b = get()
    assert(builds.get() === 1)
    assert(a eq b)
    PersistCache.invalidate(spark)
    get()
    assert(builds.get() === 2)
  }

  test("slot count is bounded: LRU session slots evict past maxSessions") {
    val Seq(s1, s2, s3) = Seq.fill(3)(spark.newSession())
    Seq(s1, s2, s3).foreach(
      _.conf.set("spark.graft.persistcache.maxSessions", "2"))
    val builds = new AtomicInteger(0)
    // distinct row count per build: identical plans would share ONE
    // CacheManager entry across sessions and a later persist would
    // re-cache what the eviction released
    def get(s: org.apache.spark.sql.SparkSession) =
      PersistCache.getOrElseUpdate(s, "spec#lru") {
        s.range(10 + builds.incrementAndGet()).toDF().persist()
      }
    try {
      val f1 = get(s1)
      Thread.sleep(2); get(s2)
      Thread.sleep(2); get(s3) // third slot under a bound of 2 → s1 evicts
      // s1's frame was unpersisted by the eviction…
      assert(f1.storageLevel === org.apache.spark.storage.StorageLevel.NONE)
      // …and a re-get rebuilds it (slot gone)
      val before = builds.get()
      get(s1)
      assert(builds.get() === before + 1)
    } finally Seq(s1, s2, s3).foreach(PersistCache.invalidate)
  }

  test("invalidating one session keeps the frame another session shares by plan") {
    val shared = graft.dedup.Dedup.idfBanded(sf0001)
    shared.count()
    val other = spark.newSession()
    graft.dedup.Dedup.idfBanded(Tables(other, sf0001.dir)).count()
    PersistCache.invalidate(other)
    assert(shared.storageLevel !== org.apache.spark.storage.StorageLevel.NONE,
      "the shared session's idf frame was uncached")
  }

  test("Pin.pinned materializes ONCE, serves consumers from cache, keeps lineage") {
    val acc = spark.sparkContext.longAccumulator("pin_builds")
    val rdd = spark.sparkContext.parallelize(1 to 100, 4)
      .map { i => acc.add(1); org.apache.spark.sql.Row(i) }
    val df = spark.createDataFrame(rdd,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.IntegerType))))
    val pinned = graft.plans.Pin.pinned(df)
    // r16: the pin is LAZY — registering the cache runs nothing…
    assert(acc.value === 0L, "pinned() must not run a dedicated job")
    // …the FIRST consumer materializes the source exactly once…
    assert(pinned.count() === 100L)
    assert(acc.value === 100L)
    // …and every later consumer reads the cached blocks, not the source
    assert(pinned.agg(org.apache.spark.sql.functions.sum("v"))
      .head().getLong(0) === 5050L)
    assert(acc.value === 100L, "a consumer re-ran the pinned source")
    // lineage survives (persist, not localCheckpoint): the analyzed plan
    // still reaches the source relation, so a lost block is recomputable
    assert(pinned.storageLevel.useMemory && pinned.storageLevel.useDisk)
    pinned.unpersist(blocking = true)
  }
}
