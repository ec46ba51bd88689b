package graft

import graft.dedup.Dedup
import org.apache.spark.sql.functions._

/** Near-dup detection specs: the corpus plants perturbed twins
  * (doc_id + 1_000_000 = original minus last 3 words); each algorithm
  * must recover a high fraction of the planted pairs without drowning
  * in false positives.
  */
class DedupSpec extends SparkSpec {

  private def plantedRecall(pairs: Seq[(Long, Long)], nDocs: Long): Double = {
    val planted = pairs.count { case (a, b) => b == a + 1000000L }
    planted.toDouble / nDocs
  }

  private lazy val nDocs = sf0001.documents.count()

  test("minhash LSH recovers planted twins") {
    val pairs = Dedup.minhashLsh.build(sf0001)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val recall = plantedRecall(pairs, nDocs)
    assert(recall >= 0.8, s"minhash recall $recall of $nDocs planted twins")
  }

  test("simhash recovers planted twins within hamming 8") {
    val pairs = Dedup.simhashDedup.build(sf0001)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val recall = plantedRecall(pairs, nDocs)
    assert(recall >= 0.8, s"simhash recall $recall")
  }

  test("ngram jaccard finds planted twins with jaccard >= 0.6 and sane scores") {
    val df = Dedup.ngramJaccard.build(sf0001)
    val rows = df.collect()
    val recall = plantedRecall(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq, nDocs)
    assert(recall >= 0.9, s"jaccard recall $recall")
    assert(rows.forall(r => r.getDouble(2) >= 0.6 && r.getDouble(2) <= 1.0))
  }

  test("connected components cluster each twin with its original") {
    val groups = Dedup.components.build(sf0001).collect()
    assert(groups.nonEmpty)
    // every group: canonical = min member; twins (id+1M) share the
    // canonical of their original when the pair was found
    groups.foreach { g =>
      val members = g.getAs[String]("member_ids").split(",").map(_.toLong)
      assert(members.min === g.getAs[Long]("canonical_doc"))
      assert(members.length.toLong === g.getAs[Long]("group_size"))
    }
    val twinned = groups.count { g =>
      val m = g.getAs[String]("member_ids").split(",").map(_.toLong).toSet
      m.exists(id => m.contains(id + 1000000L))
    }
    assert(twinned >= groups.length * 8 / 10, s"$twinned of ${groups.length} groups pair a twin")
  }

  test("canonical-quality survivorship never picks a truncated twin over its original") {
    // the twin is the original minus its last 3 words: strictly fewer or
    // equal distinct types AND strictly fewer chars, so in any component
    // containing both, argmax (types, chars, min id) must not choose the
    // twin (id >= 1M) while its original (id - 1M) is present
    val comps = Dedup.components.build(sf0001).collect()
      .map(g => g.getAs[Long]("canonical_doc") ->
        g.getAs[String]("member_ids").split(",").map(_.toLong).toSet).toMap
    val rows = Dedup.canonicalQuality.build(sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val comp = r.getAs[Long]("component")
      val canon = r.getAs[Long]("canonical_doc")
      val members = comps(comp)
      assert(members.contains(canon), s"canonical $canon outside component $comp")
      assert(r.getAs[Long]("group_size").toInt === members.size)
      if (canon >= 1000000L)
        assert(!members.contains(canon - 1000000L),
          s"component $comp picked twin $canon over its present original")
    }
    // and the policy differs from min-id somewhere (it is not a rename)
    assert(rows.exists(r =>
      r.getAs[Long]("canonical_doc") !== r.getAs[Long]("component")))
  }

  test("embedding dedup recovers planted identical vectors") {
    val pairs = Dedup.embeddingDedup.build(sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val nVecs = sf0001.embeddings.count()
    val planted = pairs.count { case (a, b) => b == a + 1000000L }
    assert(planted.toLong === nVecs, s"all $nVecs planted dup vectors found (got $planted)")
    // verified pairs really are near-identical
    assert(pairs.nonEmpty)
  }

  test("minhash estimates track exact jaccard on shared pairs") {
    val est = Dedup.minhashLsh.build(sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("est_jaccard")).toMap
    val exact = Dedup.ngramJaccard.build(sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("jaccard")).toMap
    val shared = est.keySet.intersect(exact.keySet)
    assert(shared.size >= 50, s"enough overlapping pairs to compare (${shared.size})")
    val mae = shared.toSeq.map(k => math.abs(est(k) - exact(k))).sum / shared.size
    assert(mae <= 0.25, s"mean |est - exact| = $mae over ${shared.size} pairs")
  }

  test("exact dedup counts are consistent") {
    val rows = Dedup.exact.build(sf0001).collect()
    val full = rows.find(_.getString(0) == "full_md5").get
    assert(full.getLong(1) === full.getLong(2) + full.getLong(3))
  }

  test("idf-weighted simhash recovers planted twins") {
    val pairs = Dedup.simhashIdf.build(sf0001)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val recall = plantedRecall(pairs, nDocs)
    assert(recall >= 0.8, s"weighted simhash recall $recall")
  }

  test("incremental dedup matches most new-batch twins to their originals") {
    val rows = Dedup.incremental.build(sf0001).collect()
    assert(rows.nonEmpty)
    // every new id is ≥ 1M, every match is an existing-corpus id
    rows.foreach { r =>
      assert(r.getLong(0) >= 1000000L && r.getLong(1) < 1000000L)
      assert(r.getLong(2) <= 8)
    }
    // most twins should match their own original (exact self-similarity)
    val selfMatched = rows.count(r => r.getLong(1) == r.getLong(0) - 1000000L)
    assert(selfMatched >= (nDocs * 0.8).toInt,
      s"$selfMatched of $nDocs twins matched their original")
  }

  test("dedup_apply keeps one doc per duplicate group and all singletons") {
    val rows = Dedup.applyDedup.build(sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) === r.getLong(2) + r.getLong(3),
        s"n_docs = n_kept + n_dropped for ${r.getString(0)}")
    }
    val totalDocs = rows.map(_.getLong(1)).sum
    assert(totalDocs === 2 * nDocs, "corpus = documents + twins")
    // cross-check against components: dropped = Σ (group_size - 1)
    val dropExpected = Dedup.components.build(sf0001).collect()
      .map(r => r.getLong(1) - 1).sum
    assert(rows.map(_.getLong(3)).sum === dropExpected)
  }

  test("dedup_url collapses non-canonical URL variants") {
    val rows = Dedup.urlDedup.build(sf0001).collect()
    assert(rows.length === 7) // 7 derived hosts
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "canonical <= raw")
      assert(r.getLong(3) === r.getLong(1) - r.getLong(2))
    }
    assert(rows.map(_.getLong(3)).sum > 0, "some variants must alias")
  }

  // Planted-extent corpus: 12-token docs, so the synthetic twins (last 3
  // words dropped → 9 tokens) have NO full 10-token window and the
  // expected runs come only from the planted repeats.
  //   doc 1 / doc 2 share the 10-token run s1..s10 (doc1 pos 3, doc2 pos 1)
  //   doc 3 is globally unique → no row
  //   doc 4 is 12 identical tokens → within-doc repeat covering all 12
  test("substring extents report the planted longest repeated runs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "u1 u2 s1 s2 s3 s4 s5 s6 s7 s8 s9 s10"),
      (2L, "s1 s2 s3 s4 s5 s6 s7 s8 s9 s10 v1 v2"),
      (3L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"),
      (4L, "x x x x x x x x x x x x")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_extents").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Dedup.substringExtents.build(Tables(spark, dir))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out === Seq((1L, 3L, 10L), (2L, 1L, 10L), (4L, 1L, 12L)))
  }

  test("minhash recall: planted twins estimated and verified as near-dups") {
    val rows = Dedup.minhashRecall.build(sf0001).collect()
    assert(rows.nonEmpty)
    val twinRows = rows.filter(r =>
      r.getAs[Long]("id2") === r.getAs[Long]("id1") + 1000000L)
    assert(twinRows.nonEmpty, "planted twin pairs must be detected")
    twinRows.foreach { r =>
      // a twin is the same doc minus 3 trailing words — true jaccard is
      // high (shortest docs lose the most, ~2/3), and a healthy sketch
      // estimates it within its k=16 noise
      assert(r.getAs[Long]("exact_bp") >= 5000,
        s"twin pair ${r.getAs[Long]("id1")}: exact ${r.getAs[Long]("exact_bp")}")
      assert(r.getAs[Long]("err_bp") ===
        math.abs(r.getAs[Long]("est_bp") - r.getAs[Long]("exact_bp")))
    }
    // corpus-level: the sketch must track truth — mean |error| within
    // ~4 signature positions (4/16 = 2500 bp) over the detected set
    val meanErr = rows.map(_.getAs[Long]("err_bp")).sum.toDouble / rows.length
    assert(meanErr <= 2500, s"mean err $meanErr bp")
  }

  test("substring clip: overlapping runs count union tokens, not the sum") {
    import spark.implicits._
    // doc H (13 tokens h1..h13) has repeated windows at positions 1
    // (h1..h10, shared with doc I) and 4 (h4..h13, shared with doc J) —
    // separate runs whose token spans OVERLAP on 4..10: the union is 13
    // tokens, a naive run-length sum would claim 20.
    val h = (1 to 13).map(i => s"h$i")
    val docs = Seq(
      (10L, h.mkString(" "), "en", "s1"),
      (11L, h.take(10).mkString(" "), "en", "s1"), // = window W1
      (12L, h.drop(3).mkString(" "), "en", "s1"), // = window W4
      (13L, (1 to 12).map(i => s"k$i").mkString(" "), "en", "s2")) // clean
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")))
    val dir = java.nio.file.Files.createTempDirectory("clip").toString
    docs.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Dedup.substringClip.build(Tables(spark, dir)).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val s1 = rows("s1")
    // corpus = originals + twins (last 3 tokens dropped): twins of I/J
    // fall under 10 tokens and contribute no windows
    assert(s1.getAs[Long]("n_docs") === 6L)
    assert(s1.getAs[Long]("n_docs_clipped") === 4L) // H, H', I, J
    assert(s1.getAs[Long]("tokens_before") === (13 + 10 + 10) + (10 + 7 + 7))
    // H union 13 (not 20), H' 10, I 10, J 10
    assert(s1.getAs[Long]("tokens_removed") === 43L)
    assert(s1.getAs[Long]("tokens_after") === 14L)
    val s2 = rows("s2")
    assert(s2.getAs[Long]("n_docs_clipped") === 0L)
    assert(s2.getAs[Long]("tokens_removed") === 0L)
    assert(s2.getAs[Long]("tokens_after") === s2.getAs[Long]("tokens_before"))
  }

  test("containment: truncated twins are fully contained in their originals") {
    val rows = Dedup.containment.build(sf0001).collect()
    assert(rows.nonEmpty)
    val twinPairs = rows.filter(r => r.getAs[Long]("id2") == r.getAs[Long]("id1") + 1000000L)
    assert(twinPairs.nonEmpty, "no twin pairs among containment candidates")
    twinPairs.foreach { r =>
      // twin = original minus last 3 words → shingle subset → C = 100%
      assert(r.getAs[Long]("containment_bp") === 10000L)
      // the original (larger shingle set) is the container
      assert(r.getAs[Long]("container_id") === r.getAs[Long]("id1"))
    }
    // the gate keeps only meaningful overlap
    rows.foreach(r => assert(r.getAs[Long]("containment_bp") >= 5000L))
  }

  test("edit distance confirms planted twins and respects the length-gap bound") {
    val rows = Dedup.editDistance.build(sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // |len1 - len2| is a lower bound on Levenshtein distance
      assert(r.getAs[Long]("dist") >= r.getAs[Long]("len_gap"))
      val bp = r.getAs[Long]("sim_bp")
      assert(bp >= 0L && bp <= 10000L)
    }
    // a twin is its original minus a 3-word tail: high char-level similarity
    val twins = rows.filter(r =>
      r.getAs[Long]("id2") === r.getAs[Long]("id1") + 1000000L)
    assert(twins.nonEmpty)
    val confirmed = twins.count(_.getAs[Long]("confirmed") === 1L)
    assert(confirmed.toDouble / twins.length >= 0.8,
      s"only $confirmed of ${twins.length} twins confirmed at 8000 bp")
  }

  test("similar-doc search ranks each query's planted twin first") {
    val rows = Dedup.similarSearch.build(sf0001).collect()
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.size >= 2, s"only queries ${byQ.keySet} returned candidates")
    byQ.foreach { case (q, rs) =>
      assert(rs.length <= 3)
      val js = rs.map(_.getAs[Long]("jaccard_bp")).toSeq
      assert(js === js.sorted.reverse, s"query $q results not ranked: $js")
      assert(rs.head.getAs[Long]("cand_id") === q + 1000000L,
        s"query $q top hit is not its twin: ${rs.head}")
    }
  }

  test("dedup_triangles: census invariants on the sf0.01 pair graph") {
    val r = Dedup.triangles.build(sf001).collect()
    assert(r.length === 1)
    val row = r.head
    val (nodes, edges, wedges, tri, bp) = (row.getAs[Long]("n_nodes"),
      row.getAs[Long]("n_edges"), row.getAs[Long]("n_wedges"),
      row.getAs[Long]("n_triangles"), row.getAs[Long]("clustering_bp"))
    assert(nodes > 0L && edges > 0L)
    assert(edges <= nodes * (nodes - 1) / 2, "simple graph bound")
    // every triangle closes 3 wedges; the coefficient can never exceed 1
    assert(3 * tri <= wedges, s"3*$tri > $wedges")
    assert(bp === (if (wedges > 0) 3 * tri * 10000 / wedges else 0L))
    assert(bp <= 10000L)
    // the planted twin clusters make the near-dup graph triangle-rich —
    // a zero here means the orientation join silently lost its matches
    assert(tri > 0L, "sf0.01 pair graph must contain triangles")
  }

  test("dedup_detector_agreement: set algebra consistent, clones found by both") {
    val r = Dedup.detectorAgreement.build(sf001).collect().head
    val (t, e, both, un, bp) = (r.getAs[Long]("n_text_pairs"),
      r.getAs[Long]("n_embed_pairs"), r.getAs[Long]("n_both"),
      r.getAs[Long]("n_union"), r.getAs[Long]("agreement_bp"))
    assert(both <= math.min(t, e))
    assert(un === t + e - both, "inclusion-exclusion must hold exactly")
    assert(bp === both * 10000 / un)
    // the embedding detector must at least find every planted clone pair
    val nDocs = sf001.embeddings.count()
    assert(e >= nDocs, s"embed detector found $e pairs < $nDocs planted clones")
    // and a healthy fraction of the clone pairs is confirmed by BOTH
    // detectors — total disagreement means one signal is broken
    assert(both > 0L)
  }

  test("dedup_winnow: ranked shared-fingerprint pairs, canonical id order") {
    val rows = Dedup.winnow.build(sf001).collect()
    assert(rows.nonEmpty && rows.length <= 10)
    val shared = rows.map(_.getAs[Long]("shared_fp")).toSeq
    assert(shared.zip(shared.tail).forall { case (a, b) => a >= b },
      s"pairs must arrive ranked: $shared")
    rows.foreach { r =>
      assert(r.getAs[Long]("id1") < r.getAs[Long]("id2"), "canonical pair order")
      assert(r.getAs[Long]("shared_fp") > 0L)
    }
    // the template corpus shares real runs — the top pair must share a
    // non-trivial fingerprint set, not a single accidental collision
    assert(shared.head >= 5L, s"top pair only shares ${shared.head} fingerprints")
  }

  test("component sizes: histogram is consistent with dedup_components groups") {
    val hist = Dedup.componentSizes.build(sf0001).collect()
      .map(r => r.getAs[Long]("group_size") -> r.getAs[Long]("n_groups")).toMap
    val groups = Dedup.components.build(sf0001).collect()
      .map(_.getAs[Long]("group_size"))
    val expect = groups.groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(hist === expect, s"$hist vs $expect")
    val shares = Dedup.componentSizes.build(sf0001).collect()
      .map(_.getAs[Long]("doc_share_bp"))
    assert(shares.sum <= 10000L)
    assert(shares.forall(s => s >= 0L && s <= 10000L))
  }

  test("kcore trajectory matches an in-memory synchronized peel and certifies its fixpoint") {
    val got = Dedup.kcore.build(sf0001).collect()
      .map(r => (r.getAs[Long]("peel_round"), r.getAs[Long]("n_nodes"),
        r.getAs[Long]("n_edges")))
      .sortBy(_._1)
    // reference: brute-force synchronized peeling of the same pair graph
    var edges = Dedup.simhashPairs(sf0001).collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"))).toSet
    val expect = (1 to 8).map { r =>
      val deg = edges.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).view.mapValues(_.size).toMap
      val kept = deg.filter(_._2 >= 3).keySet
      edges = edges.filter(e => kept(e._1) && kept(e._2))
      (r.toLong, kept.size.toLong, edges.size.toLong)
    }
    assert(got.toSeq === expect, s"${got.toSeq} vs $expect")
    // the 8-round budget must certify convergence on the real graph
    assert(got(7) === ((8L, got(6)._2, got(6)._3)))
    // peeling only shrinks
    assert(got.sliding(2).forall(w => w(1)._2 <= w(0)._2 && w(1)._3 <= w(0)._3))
  }

  test("graft_shingle_charfold == the split/ascii lambda-fold expression chain") {
    // the kernel replaces dedup_winnow's per-shingle
    // aggregate(split(sh,''),...) fold (r17) — equality must hold
    // bit-for-bit on every edge the expression chain has: empty and
    // whitespace-only docs (split('','') = ['']), 1- and 2-token docs
    // (short slices), mixed case, padded whitespace, multi-byte
    // characters (ascii() = code point). split(sh, '') yields exactly
    // the characters, with no trailing empty element, and the kernel
    // adds no fold step for one
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    val docs = Seq(
      "", " ", "  \t\n ", "one", "one two", "one two three",
      "one two three four five six", "UPPER Case MiXeD tokens HERE",
      "  padded   spaces\tand\nnewlines  ",
      "caf\u00e9 na\u00efve r\u00e9sum\u00e9 tokens",
      "\u4e2d\u6587 \u6587\u672c mixed ascii",
      "a b c d e f g h i j k l m n o p"
    ).toDF("text")
    val p = graft.functions.PortableHash.P
    val ws = "filter(split(trim(lower(text)), '\\\\s+'), w -> w != '')"
    val ref = s"transform(sequence(1, greatest(size($ws) - 2, 1)), " +
      s"i -> aggregate(split(array_join(slice($ws, i, 3), ' '), ''), 7L, " +
      s"(acc, c) -> (acc * 31 + ascii(c)) % ${p}L))"
    val rows = docs.select(
      expr("graft_shingle_charfold(text)").as("got"),
      expr(ref).as("want")).collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0) === r.getSeq[Long](1))
    }
    // null text: the kernel returns null (where the chain it replaced
    // folded one null hash), so posexplode drops the document and
    // dedup_winnow never fingerprints it
    val nullDoc = Seq(Option.empty[String]).toDF("text")
      .select(expr("graft_shingle_charfold(text)").as("hs"))
    assert(nullDoc.collect().map(_.isNullAt(0)).toSeq === Seq(true))
    assert(nullDoc.select(posexplode(col("hs"))).count() === 0L)
  }
}
