package graft

import graft.tools.Probe

/** The dev tool's four modes on sf0.001, and the build-step registry
  * they share with Bench.
  */
class ProbeSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("build step names are unique and cover Dedup, Ann and TextOps") {
    val names = SparkEntry.builds(sf0001).map(_._1)
    assert(names.distinct === names)
    Seq("sim_pairs", "ivf", "bpe").foreach(n => assert(names.contains(n), n))
  }

  test("time prints one line per name") {
    val out = Probe.run(spark, Array("time", sf, "q01_pricing_summary,q02_topn", "1"))
    val lines = out.linesIterator.toSeq
    assert(lines.size === 2, out)
    assert(lines(0).startsWith("q01_pricing_summary: median "), out)
    assert(lines(1).startsWith("q02_topn: median "), out)
  }

  test("plan prints the formatted physical plan, or appends it to a file") {
    assert(Probe.run(spark, Array("plan", sf, "q01_pricing_summary"))
      .contains("== Physical Plan =="))
    val out = java.nio.file.Files.createTempDirectory("graft_probe").resolve("plans.txt")
    Probe.run(spark, Array("plan", sf, "q01_pricing_summary", out.toString))
    Probe.run(spark, Array("plan", sf, "q02_topn", out.toString))
    val text = java.nio.file.Files.readString(out)
    assert(text.contains("======== q01_pricing_summary ========"))
    assert(text.contains("======== q02_topn ========"))
  }

  test("executed numbers the actions a query ran") {
    val out = Probe.run(spark, Array("executed", sf, "q01_pricing_summary"))
    assert(out.contains("======== q01_pricing_summary (executed) ========"), out)
    assert(out.contains("-------- action 1 "), out)
    // each action's header carries its wall time
    assert("""-------- action 1 \(\w+, \d+\.\d ms\) --------""".r.findFirstIn(out).nonEmpty, out)
    assert(!out.contains("(no plan captured)"), out)
  }

  test("build prints each step's seconds and Spark jobs") {
    // a fresh session, so the steps build rather than hit the shared memo
    val s = spark.newSession()
    try {
      val out = Probe.run(s, Array("build", sf, "sim_pairs,cc_labels"))
      val line = """(\w+) +\d+\.\d\d s +(\d+) jobs""".r
      val steps = out.linesIterator.map {
        case line(name, jobs) => name -> jobs.toInt
        case other => fail(s"unexpected line: $other")
      }.toSeq
      assert(steps.map(_._1) === Seq("sim_pairs", "cc_labels"), out)
      assert(steps.forall(_._2 > 0), out)
    } finally PersistCache.invalidate(s)
  }

  test("build with an unknown step fails listing the valid names") {
    val e = intercept[IllegalArgumentException] {
      Probe.run(spark, Array("build", sf, "emb_lsh,no_such_step"))
    }
    assert(e.getMessage.contains("no_such_step"), e.getMessage)
    SparkEntry.builds(sf0001).foreach { case (n, _) => assert(e.getMessage.contains(n), n) }
  }

  test("an unknown mode fails with the usage line") {
    val e = intercept[IllegalArgumentException](Probe.run(spark, Array("layers", sf)))
    assert(e.getMessage.contains(Probe.usage))
  }
}
