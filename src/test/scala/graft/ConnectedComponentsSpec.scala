package graft

import graft.dedup.Dedup
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** `Dedup.componentLabels` is exact: on hostile graphs, and under every
  * input partitioning of the same edges (one partition, a few, and one
  * edge per partition, so the residual star rounds run), its labels equal
  * the min-id labels of a union-find on the driver. The sf0.001 label
  * build is one union-find pass on the session's own conf.
  */
class ConnectedComponentsSpec extends SparkSpec {

  /** Driver union-find keeping the smaller id as root: id → component min. */
  private def reference(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var root = parent.getOrElseUpdate(x, x)
      while (parent(root) != root) root = parent(root)
      var y = x
      while (parent(y) != root) { val up = parent(y); parent(y) = root; y = up }
      root
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** `n` distinct ids scattered over a wide range, in random order. */
  private def ids(rnd: scala.util.Random, n: Int): IndexedSeq[Long] =
    Iterator.continually(rnd.nextLong() & 0xffffffffffL).distinct.take(n).toIndexedSeq

  private def oriented(rnd: scala.util.Random, a: Long, b: Long): (Long, Long) =
    if (rnd.nextBoolean()) (a, b) else (b, a)

  private val graphs: Seq[(String, scala.util.Random => Seq[(Long, Long)])] = Seq(
    "random forests" -> { rnd =>
      val v = ids(rnd, 1500)
      (1 until v.size).flatMap { i =>
        if (rnd.nextInt(10) == 0) None // a new tree starts at i
        else Some(oriented(rnd, v(i), v(rnd.nextInt(i))))
      }
    },
    "cliques" -> { rnd =>
      ids(rnd, 15 * 12).grouped(12).toSeq.flatMap { c =>
        c.combinations(2).map { case Seq(a, b) => oriented(rnd, a, b) }
      }
    },
    "a 5,000-node path with shuffled ids" -> { rnd =>
      val v = ids(rnd, 5000)
      v.sliding(2).map { case Seq(a, b) => oriented(rnd, a, b) }.toSeq
    },
    "a star whose centre has the largest id" -> { rnd =>
      val v = ids(rnd, 800).sorted
      v.init.map(leaf => oriented(rnd, leaf, v.last))
    },
    "duplicate and reversed pairs" -> { rnd =>
      val v = ids(rnd, 300)
      val base = (1 until v.size).map(i => (v(i), v(rnd.nextInt(i))))
      rnd.shuffle(base ++ base ++ base.map(_.swap))
    },
    "isolated pairs" -> { rnd =>
      ids(rnd, 800).grouped(2).map { case Seq(a, b) => oriented(rnd, a, b) }.toSeq
    })

  graphs.zipWithIndex.foreach { case ((name, gen), seed) =>
    test(s"$name: labels equal a driver union-find on 1, 3, 8 and one-edge partitions") {
      val edges = gen(new scala.util.Random(seed))
      val want = reference(edges)
      Seq(1, 3, 8, edges.size).foreach { parts =>
        val got = Dedup.componentLabels(spark.sparkContext.parallelize(edges, parts)).collect()
        val labels = got.toMap
        assert(labels.size === got.length, s"$parts partitions: an id labelled twice")
        val bad = want.iterator.filter { case (id, l) => !labels.get(id).contains(l) }.take(3).toSeq
        assert(got.length === want.size && bad.isEmpty,
          s"$parts partitions: ${got.length} labels for ${want.size} nodes, e.g. (id, want) $bad")
      }
    }
  }

  test("the sf0.001 label build fires at most 3 jobs, each with AQE on") {
    // a fresh session: the shared one may have built its labels already
    val s = spark.newSession()
    val t = Tables(s, sf0001.dir)
    val key = "spark.sql.adaptive.enabled"
    val aqe = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        aqe.add(Option(e.properties).flatMap(p => Option(p.getProperty(key)))
          .getOrElse(s.conf.get(key)))
    }
    try {
      Dedup.simhashPairs(t).count()
      spark.sparkContext.addSparkListener(listener)
      val jobs = try jobsOf(Dedup.simhashLabels(t).count())
      finally spark.sparkContext.removeSparkListener(listener)
      assert(jobs <= 3, s"$jobs jobs")
      assert(!aqe.isEmpty && aqe.toArray.forall(_ == "true"), s"AQE at job starts: $aqe")
      assert(s.conf.get(key) === "true")
    } finally PersistCache.invalidate(s)
  }
}
