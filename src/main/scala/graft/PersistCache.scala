package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}

import scala.jdk.CollectionConverters._

/** Session-scoped memo registry for expensive persisted frames (simhash
  * pair graphs, component labels, PQ code tables): operators that share
  * an intermediate register it here so it is built and persisted ONCE
  * per (session, dataset) instead of once per build() call — repeated
  * builds (Verify + specs + Bench in one JVM, interactive iteration)
  * would otherwise accumulate MEMORY_AND_DISK entries with no owner.
  *
  * Lifecycle — honest about what GC can and cannot do: a persisted
  * Dataset is registered in the context-lifetime CacheManager
  * (SharedState holds the plan and its cached RDD STRONGLY until
  * unpersist), so reference-based reclamation of cached blocks is
  * impossible no matter how weakly this registry holds its frames — a
  * soft/weak frame slot would only break invalidate() (nothing left to
  * call unpersist on) while the blocks lived on. The registry therefore
  * holds frames strongly and provides the two releases that actually
  * work:
  *   - `invalidate(session)` drops everything cached for a session and
  *     unpersists each frame no other live slot shares by plan —
  *     services that retire sessions on a long-running shared context
  *     MUST call it (it is the only mechanism that frees the blocks,
  *     whatever this registry does);
  *   - one listener per SparkContext clears every slot attached to that
  *     context at application end;
  *   - a SESSION-COUNT BOUND (`spark.graft.persistcache.maxSessions`,
  *     default 8): when a new session's slot would exceed it, the
  *     least-recently-used slot is invalidated — so a service that
  *     churns short-lived sessions without calling invalidate() leaks at
  *     most maxSessions slots' worth of cache (and session objects)
  *     rather than one per session forever.
  */
object PersistCache {

  private final class Slot(val session: SparkSession) {
    val context: SparkContext = session.sparkContext
    val frames = scala.collection.concurrent.TrieMap.empty[String, DataFrame]
    @volatile var lastUsed: Long = System.nanoTime()
  }

  private val slots =
    new java.util.concurrent.ConcurrentHashMap[String, Slot]()
  // identity → stable id (identityHashCode collisions would conflate
  // sessions; an issued id is unique for the JVM's lifetime)
  private val sessionIds = new java.util.IdentityHashMap[SparkSession, String]()
  private val idGen = new java.util.concurrent.atomic.AtomicLong()
  private def idOf(spark: SparkSession): String = sessionIds.synchronized {
    var id = sessionIds.get(spark)
    if (id == null) { id = "s" + idGen.incrementAndGet(); sessionIds.put(spark, id) }
    id
  }
  private val hookedContexts =
    java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[SparkContext, java.lang.Boolean]())

  private def hookContext(sc: SparkContext): Unit =
    if (hookedContexts.add(sc))
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
          val it = slots.entrySet().iterator()
          while (it.hasNext) {
            val slot = it.next().getValue
            if (slot.context eq sc) {
              it.remove()
              sessionIds.synchronized { sessionIds.remove(slot.session) }
            }
          }
          hookedContexts.remove(sc)
        }
      })

  /** Memoized build: returns the cached frame for (session, key) or runs
    * `build` (which should persist its result) and caches it.
    */
  def getOrElseUpdate(spark: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    val id = idOf(spark)
    val slot = slots.computeIfAbsent(id, { _ =>
      hookContext(spark.sparkContext)
      new Slot(spark)
    })
    slot.lastUsed = System.nanoTime()
    evictOverflow(spark, keep = id)
    slot.frames.get(key) match {
      case Some(df) => df
      case None =>
        // serialize builds per slot: two concurrent misses must not both
        // run an expensive (and persisting) build
        slot.synchronized {
          slot.frames.getOrElse(key, {
            val df = build
            slot.frames.put(key, df)
            df
          })
        }
    }
  }

  /** Drop (and unpersist) everything cached for a session — for services
    * that retire sessions while the underlying context keeps running.
    * This is the ONLY release that frees the persisted blocks before
    * application end (see the class comment).
    */
  def invalidate(spark: SparkSession): Unit = {
    val slot = slots.remove(idOf(spark))
    sessionIds.synchronized { sessionIds.remove(spark) }
    if (slot != null) release(slot)
  }

  /** Unpersists a dropped slot's frames. The CacheManager is shared by
    * every session and unpersist matches by plan, so a frame whose plan
    * another live slot also hands out stays cached.
    */
  private def release(slot: Slot): Unit = {
    sessionIds.synchronized { sessionIds.remove(slot.session) }
    val live = slots.values.asScala.flatMap(_.frames.values).map(_.queryExecution.analyzed)
    slot.frames.values.foreach { df =>
      val plan = df.queryExecution.analyzed
      if (!live.exists(_.sameResult(plan)))
        try df.unpersist(blocking = false) catch { case _: Throwable => () }
    }
  }

  /** Bound the slot count for shared-context services that churn
    * sessions without calling invalidate(): beyond
    * `spark.graft.persistcache.maxSessions` (default 8), the
    * least-recently-used slots (never the caller's) are invalidated.
    */
  private def evictOverflow(spark: SparkSession, keep: String): Unit = {
    val max = try spark.conf.get("spark.graft.persistcache.maxSessions", "8").toInt
    catch { case _: NumberFormatException => 8 }
    if (slots.size() > max) slots.synchronized {
      while (slots.size() > max) {
        var oldestId: String = null
        var oldest: Slot = null
        slots.forEach { (id, s) =>
          if (id != keep && (oldest == null || s.lastUsed < oldest.lastUsed)) {
            oldestId = id; oldest = s
          }
        }
        if (oldestId == null) return
        slots.remove(oldestId)
        release(oldest)
      }
    }
  }
}
