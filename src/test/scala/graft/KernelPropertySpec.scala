package graft

import graft.functions.{SignatureKernels, TopKAggregator}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based checks of the pure kernels: whitespace invariance,
  * shingle-count arithmetic, bounded-heap top-k equivalence with full
  * sorting, on valid and malformed UTF-8. Only the null-propagation case
  * goes through a Spark session, to reach the SQL functions.
  */
class KernelPropertySpec extends SparkSpec {

  /** Deterministic sampling harness over ScalaCheck generators (the
    * scalatest-scalacheck bridge isn't on the classpath).
    */
  private def forSamples[A](g: Gen[A], n: Int = 100)(f: A => Unit): Unit = {
    var seed = Seed(42L)
    var i = 0
    while (i < n) {
      g.apply(Gen.Parameters.default, seed).foreach(f)
      seed = seed.next
      i += 1
    }
  }

  private val word = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)
  private val words = Gen.listOfN(30, word).map(_.take(30))

  // malformed UTF-8: generated pieces of valid text with at least one bad
  // byte shape in between
  private def bytes(bs: Int*): Gen[Array[Byte]] = Gen.const(bs.map(_.toByte).toArray)
  private val validPiece = Gen.oneOf(
    Gen.alphaChar.map(c => Array(c.toByte)),
    Gen.oneOf("é", "€", "😀").map(_.getBytes("UTF-8")))
  private val valid = Gen.oneOf(validPiece, bytes(' '), bytes(' ', ' '))
  private val invalid = Gen.oneOf(
    Gen.choose(0x80, 0xbf).flatMap(b => bytes(b)), // stray continuation byte
    Gen.oneOf(0xc0, 0xc1, 0xf5, 0xf8, 0xfe, 0xff).flatMap(b => bytes(b)), // never a lead
    Gen.choose(0xc2, 0xf4).flatMap(b => bytes(b, 'a'))) // truncated sequence
  private val invalidText = for {
    pre <- Gen.listOf(valid)
    bad <- Gen.nonEmptyListOf(Gen.zip(invalid, Gen.listOf(valid)))
  } yield UTF8String.fromBytes((pre ++ bad.flatMap { case (b, v) => b +: v }).flatten.toArray)
  /** Whitespace-free tokens of the same pieces, each holding a bad shape,
    * so the token laws below can be stated on malformed input too. */
  private val invalidWords = Gen.chooseNum(1, 12).flatMap(n => Gen.listOfN(n, for {
    pre <- Gen.listOf(validPiece)
    bad <- invalid
    post <- Gen.listOf(validPiece)
  } yield (pre.flatten ++ bad ++ post.flatten).toArray))
  private def joined(ws: Seq[Array[Byte]], sep: String, pre: String = "",
    post: String = ""): UTF8String = {
    val s = sep.getBytes("UTF-8")
    UTF8String.fromBytes(pre.getBytes("UTF-8") ++
      ws.reduceOption((a, b) => a ++ s ++ b).getOrElse(Array.emptyByteArray) ++
      post.getBytes("UTF-8"))
  }
  private def hex(s: UTF8String) = s.getBytes.map(b => f"${b & 0xff}%02x").mkString(" ")

  test("simhash64 is invariant to whitespace layout") {
    forSamples(Gen.zip(words, Gen.chooseNum(1, 3))) { case (ws, pad) =>
      if (ws.nonEmpty) {
        val canonical = SignatureKernels.simhash64(UTF8String.fromString(ws.mkString(" ")))
        val noisy = SignatureKernels.simhash64(UTF8String.fromString(
          " " * pad + ws.mkString(" " * pad) + "\t\n"))
        assert(canonical === noisy)
      }
    }
  }

  test("shingle hashes count = max(nTokens - w + 1, 1) for non-empty docs") {
    forSamples(words) { ws =>
      if (ws.nonEmpty) {
        val n = SignatureKernels.shingleHashes(
          UTF8String.fromString(ws.mkString(" ")), 3).numElements()
        assert(n === math.max(ws.length - 2, 1))
      }
    }
  }

  test("bigram count = nTokens - 1; bigrams reproduce adjacent pairs") {
    forSamples(words) { ws =>
      if (ws.length >= 2) {
        val arr = SignatureKernels.bigrams(UTF8String.fromString(ws.mkString(" ")))
        assert(arr.numElements() === ws.length - 1)
        val got = (0 until arr.numElements())
          .map(i => arr.getUTF8String(i).toString)
        assert(got === ws.sliding(2).map(_.mkString(" ")).toSeq)
      }
    }
  }

  test("token laws hold on invalid UTF-8: simhash64 layout, shingle and bigram counts") {
    forSamples(Gen.zip(invalidWords, Gen.chooseNum(1, 3)), 300) { case (ws, pad) =>
      val text = joined(ws, " ")
      val noisy = joined(ws, " " * pad, " " * pad, "\t\n")
      assert(SignatureKernels.simhash64(text) === SignatureKernels.simhash64(noisy), hex(text))
      assert(SignatureKernels.shingleHashes(text, 3).numElements() ===
        math.max(ws.length - 2, 1), hex(text))
      val arr = SignatureKernels.bigrams(text)
      assert(arr.numElements() === ws.length - 1, hex(text))
      val got = (0 until arr.numElements()).map(i => arr.getUTF8String(i).getBytes.toSeq)
      assert(got === ws.sliding(2).collect { case Seq(a, b) => joined(Seq(a, b), " ").getBytes.toSeq }.toSeq,
        hex(text))
    }
  }

  test("graft_simhash64, graft_shingles and graft_bigrams: null in, null out") {
    graft.functions.GraftFunctions.register(spark)
    val fns = Seq("graft_simhash64", "graft_shingles", "graft_bigrams")
    // a projection over a range runs the generated code; a local relation
    // is folded by the interpreted path
    val codegen = spark.range(2).selectExpr("if(id = 0, null, 'a b c') AS text")
      .selectExpr(fns.map(f => s"$f(text) AS $f"): _*).collect()
    val interpreted = spark.sql("SELECT " + fns.map(f =>
      s"$f(CAST(NULL AS STRING)) AS $f").mkString(", ")).collect()
    for (rows <- Seq(codegen.take(1), interpreted); f <- fns)
      assert(rows.head.isNullAt(rows.head.fieldIndex(f)), f)
    fns.foreach(f => assert(!codegen(1).isNullAt(codegen(1).fieldIndex(f)), f))
  }

  test("minhash estimates: identical docs agree on every component") {
    forSamples(words) { ws =>
      if (ws.nonEmpty) {
        val a = SignatureKernels.minhashSig(UTF8String.fromString(ws.mkString(" ")), 16, 3)
        val b = SignatureKernels.minhashSig(UTF8String.fromString("  " + ws.mkString("  ")), 16, 3)
        // whitespace-noise changes shingle spans (raw-span identity), so only
        // exact-layout docs must agree — use identical layout here
        val c = SignatureKernels.minhashSig(UTF8String.fromString(ws.mkString(" ")), 16, 3)
        assert(a.toLongArray.toSeq === c.toLongArray.toSeq)
        assert(a.numElements() === 16 && b.numElements() === 16)
      }
    }
  }

  test("rolling window hashes == direct hash of each space-joined window") {
    forSamples(words) { ws =>
      val rolled = SignatureKernels.windowHashes(
        UTF8String.fromString(ws.mkString("  ")), 10)
      assert(rolled.numElements() === math.max(ws.length - 9, 0))
      ws.sliding(10).zipWithIndex.foreach { case (win, i) =>
        if (win.length == 10) {
          val direct = SignatureKernels.windowHashes(
            UTF8String.fromString(win.mkString(" ")), 10)
          assert(rolled.getLong(i) === direct.getLong(0))
        }
      }
    }
  }

  test("wordHashes == per-token portable polynomial fold, layout-invariant") {
    val P = graft.functions.PortableHash.P
    def ref(w: String): Long =
      w.getBytes("UTF-8").foldLeft(7L)((h, b) => (h * 31 + (b & 0xff)) % P)
    forSamples(words) { ws =>
      val got = SignatureKernels.wordHashes(
        UTF8String.fromString(ws.mkString("  ") + " "))
      assert(got.numElements() === ws.length)
      ws.zipWithIndex.foreach { case (w, i) =>
        assert(got.getLong(i) === ref(w), s"token $w")
      }
    }
    assert(SignatureKernels.wordHashes(UTF8String.fromString("")).numElements() === 0)
  }

  test("TopKAggregator == sort-then-take for arbitrary inputs and k") {
    forSamples(Gen.zip(
      Gen.listOf(Gen.zip(Gen.chooseNum(-1e6, 1e6), Gen.chooseNum(0L, 1000L))),
      Gen.chooseNum(1, 8))) { case (xs, k) =>
      val agg = TopKAggregator(k)
      // random partition split + merge order
      val (l, r) = xs.splitAt(xs.length / 2)
      val merged = agg.merge(
        l.foldLeft(agg.zero)(agg.reduce),
        r.foldLeft(agg.zero)(agg.reduce))
      val expected = xs.sortBy { case (s, id) => (-s, id) }.take(k)
      assert(agg.finish(merged) === expected)
    }
  }

  test("cosine/dist2 kernels are bit-identical to the sequential double folds") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val vec = Gen.listOfN(64, Gen.chooseNum(-1000, 1000).map(_ / 250.0f))
    forSamples(Gen.zip(vec, vec)) { case (xs, ys) =>
      val a = new GenericArrayData(xs.toArray)
      val b = new GenericArrayData(ys.toArray)
      // the reference folds: dot, norms, dist2 accumulated left-to-right
      // in double space — exactly what zip_with/aggregate (and DuckDB
      // LIST_SUM) evaluate
      var dot = 0.0; var na = 0.0; var nb = 0.0; var d2 = 0.0
      xs.zip(ys).foreach { case (x, y) =>
        val xd = x.toDouble; val yd = y.toDouble
        dot += xd * yd; na += xd * xd; nb += yd * yd
        val d = xd - yd; d2 += d * d
      }
      val expCos = dot / (math.sqrt(na) * math.sqrt(nb))
      assert(SignatureKernels.cosine(a, b, 1, 1) === expCos)
      assert(SignatureKernels.dist2(a, b, 1, 1) === d2)
      // double-typed arrays take the other accessor path, same values
      val ad = new GenericArrayData(xs.map(_.toDouble).toArray)
      val bd = new GenericArrayData(ys.map(_.toDouble).toArray)
      assert(SignatureKernels.cosine(ad, bd, 0, 0) === expCos)
      assert(SignatureKernels.dist2(ad, bd, 0, 0) === d2)
      // integer-grid arrays (ann_quantized): double accumulation of
      // longs below 2^53 equals the exact long fold
      val al = new GenericArrayData(xs.map(v => (v * 250).toLong).toArray)
      val bl = new GenericArrayData(ys.map(v => (v * 250).toLong).toArray)
      var ldot = 0L; var lna = 0L; var lnb = 0L
      xs.zip(ys).foreach { case (x, y) =>
        val xl = (x * 250).toLong; val yl = (y * 250).toLong
        ldot += xl * yl; lna += xl * xl; lnb += yl * yl
      }
      val expCosL = ldot.toDouble / (math.sqrt(lna.toDouble) * math.sqrt(lnb.toDouble))
      assert(SignatureKernels.cosine(al, bl, 2, 2) === expCosL)
      assert(SignatureKernels.dot(a, b, 1, 1) === dot)
    }
  }

  test("r13 kernels: shuffledIndices is a permutation, stable per seed") {
    forSamples(Gen.zip(Gen.chooseNum(0, 40), Gen.chooseNum(Long.MinValue, Long.MaxValue))) {
      case (n, seed) =>
        val idx = graft.functions.ChScalarKernels4.shuffledIndices(n, seed)
        assert(idx.sorted.toSeq === (0 until n))
        assert(idx.toSeq ===
          graft.functions.ChScalarKernels4.shuffledIndices(n, seed).toSeq)
    }
  }

  test("r13 kernels: MAC and reinterpret round-trips over random values") {
    forSamples(Gen.chooseNum(0L, (1L << 48) - 1)) { v =>
      val s = graft.functions.ChScalarKernels4.macNumToString(v)
      assert(graft.functions.ChScalarKernels4.macStringToNum(s) === v)
    }
    forSamples(Gen.chooseNum(Long.MinValue, Long.MaxValue)) { v =>
      val s = graft.functions.ChScalarKernels4.reinterpretAsString(v)
      // trailing zero bytes trim, so only the surviving width reads back
      val back = graft.functions.ChScalarKernels4.reinterpretAsUInt(s, 8)
      assert(back === v)
    }
  }

  test("r13 kernels: hilbert encode/decode round-trips random 32-bit coords") {
    forSamples(Gen.zip(Gen.chooseNum(0L, 0xffffffffL),
      Gen.chooseNum(0L, 0xffffffffL))) { case (x, y) =>
      val d = graft.functions.ChScalarKernels3.hilbertEncode(x, y)
      assert(graft.functions.ChScalarKernels3.hilbertDecode(d) === ((x, y)))
    }
  }

  test("r13 kernels: isValidUtf8 accepts every real string, rejects bad shapes") {
    forSamples(word) { w =>
      assert(graft.functions.ChScalarKernels4.isValidUtf8(
        UTF8String.fromString(w + "héllo‚Ǩ")))
    }
    // continuation byte alone, truncated sequence, surrogate range
    for (bad <- Seq(Array(0x80), Array(0xC2), Array(0xED, 0xA0, 0x80),
      Array(0xF5, 0x80, 0x80, 0x80))) {
      assert(!graft.functions.ChScalarKernels4.isValidUtf8(
        UTF8String.fromBytes(bad.map(_.toByte))))
    }
  }

  test("r13 kernels: pointInPolygon agrees with a reference winding check on a square") {
    forSamples(Gen.zip(Gen.chooseNum(-2.0, 6.0), Gen.chooseNum(-2.0, 6.0))) {
      case (px, py) =>
        val xs = Array(0.0, 4.0, 4.0, 0.0)
        val ys = Array(0.0, 0.0, 4.0, 4.0)
        val got = graft.functions.ChScalarKernels4.pointInPolygon(px, py, xs, ys)
        val expected = (px >= 0 && px <= 4 && py >= 0 && py <= 4)
        assert(got === expected, s"($px, $py)")
    }
  }

  test("r13 kernels: arrayLevenshtein bounds and identity") {
    forSamples(Gen.zip(words, words)) { case (a, b) =>
      def arr(ws: List[String]) = new org.apache.spark.sql.catalyst.util
        .GenericArrayData(ws.map(UTF8String.fromString).toArray[Any])
      val d = graft.functions.ChScalarKernels4.arrayLevenshtein(arr(a), arr(b))
      assert(d >= math.abs(a.length - b.length))
      assert(d <= math.max(a.length, b.length))
      assert(graft.functions.ChScalarKernels4.arrayLevenshtein(arr(a), arr(a)) === 0L)
    }
  }

  test("r14 kernels: parseTimeDelta is separator- and order-insensitive, strict on junk") {
    val k = graft.functions.ChScalarKernels5
    def p(s: String): Double = k.parseTimeDelta(UTF8String.fromString(s))
    // the same components in any order, with any separator, sum equal
    forSamples(Gen.zip(Gen.chooseNum(0, 99), Gen.chooseNum(0, 59),
      Gen.chooseNum(0, 59))) { case (h, m, s) =>
      val expect = h * 3600.0 + m * 60.0 + s
      assert(p(s"${h}h ${m}m ${s}s") === expect)
      assert(p(s"${s}s+${h}hours,${m}min") === expect)
      assert(p(s"${m} minutes; ${h} hr ${s} seconds") === expect)
    }
    assert(p("1.5h") === 5400.0)
    for (bad <- Seq("", "h1", "5 parsecs", "1h xx", "1h 2"))
      assertThrows[IllegalArgumentException](p(bad))
  }

  test("r14 kernels: extractKeyValuePairs keeps the first occurrence, skips non-pairs") {
    val m = graft.functions.ChScalarKernels5
      .extractKeyValuePairs(UTF8String.fromString(
        "a:1, b:2 junk a:9;c:3 :bad bad: d::"))
    val keys = (0 until m.numElements()).map(i =>
      m.keyArray.getUTF8String(i).toString)
    val vals = (0 until m.numElements()).map(i =>
      m.valueArray.getUTF8String(i).toString)
    assert(keys === Seq("a", "b", "c", "d"))
    assert(vals === Seq("1", "2", "3", ":"))
  }

  test("r14 kernels: macStringToNum throws on every malformed shape (no 0-aliasing)") {
    for (bad <- Seq("", "11:22:33:44:55", "11:22:33:44:55:66:77", "GG:22:33:44:55:66",
      "1:22:33:44:55:66", "+1:22:33:44:55:66", "-1:22:33:44:55:66", "11-22-33-44-55-66")) {
      assertThrows[IllegalArgumentException](
        graft.functions.ChScalarKernels4.macStringToNum(UTF8String.fromString(bad)))
    }
  }

  test("r14 kernels: unigram Viterbi equals brute-force enumeration under the same tie rule") {
    // brute force: enumerate ALL segmentations into vocab pieces (len ≤ 4)
    // and pick by (max score, min pieces, then the DP's local longest-
    // last-piece preference resolved left to right). Since the DP's g is
    // determined by (score, k) plus the local m-rule at each position, it
    // suffices to check (score, k) optimality + that the emitted pieces
    // concatenate back to the word and all live in the vocabulary.
    val pieceGen = Gen.chooseNum(1, 4)
    val wordGen = Gen.listOfN(8, Gen.oneOf('a', 'b')).map(_.mkString)
    forSamples(Gen.zip(wordGen, Gen.listOfN(6, Gen.zip(
      Gen.chooseNum(1, 4).flatMap(l => Gen.listOfN(l, Gen.oneOf('a', 'b')).map(_.mkString)),
      Gen.chooseNum(1, 12)))), n = 60) { case (w, extra) =>
      val vocab = new java.util.HashMap[String, java.lang.Integer]()
      vocab.put("a", 3); vocab.put("b", 2) // singles guarantee totality
      extra.foreach { case (p, s) => vocab.put(p, s) }
      val l2c = 6
      val g = graft.functions.UnigramKernels.viterbiSeg(w, vocab, l2c)
      val pieces = g.split("\\|").filter(_.nonEmpty).toList
      assert(pieces.mkString === w, s"'$g' does not cover '$w'")
      assert(pieces.forall(vocab.containsKey), s"'$g' uses unknown pieces")
      val dpScore = pieces.map(p => vocab.get(p).intValue() - l2c).sum
      // brute-force all segmentations
      def segs(s: String): List[List[String]] =
        if (s.isEmpty) List(Nil)
        else (1 to math.min(4, s.length)).toList.flatMap { m =>
          val h = s.substring(0, m)
          if (vocab.containsKey(h)) segs(s.substring(m)).map(h :: _) else Nil
        }
      val all = segs(w)
      val bestScore = all.map(_.map(p => vocab.get(p).intValue() - l2c).sum).max
      assert(dpScore === bestScore, s"'$w': DP $dpScore, brute $bestScore")
      val bestK = all.filter(
        _.map(p => vocab.get(p).intValue() - l2c).sum == bestScore).map(_.length).min
      assert(pieces.length === bestK, s"'$w': DP k=${pieces.length}, brute k=$bestK")
    }
  }

  test("r14 kernels: unigram Viterbi counts code points, not UTF-16 units") {
    val vocab = new java.util.HashMap[String, java.lang.Integer]()
    vocab.put("𝄞", 5) // 𝄞 — a supplementary code point
    vocab.put("a", 3)
    vocab.put("𝄞a", 9)
    // the 2-code-point word must segment as one 2-length piece when its
    // score wins, never split a surrogate pair
    assert(graft.functions.UnigramKernels.viterbiSeg(
      "𝄞a", vocab, 1) === "|𝄞a")
    vocab.remove("𝄞a")
    assert(graft.functions.UnigramKernels.viterbiSeg(
      "𝄞a", vocab, 1) === "|𝄞|a")
  }

  test("r15 kernels: hasSubsequence order/containment laws, byte vs code-point walks") {
    val k = graft.functions.ChScalarKernels6
    def sub(h: String, n: String): Int =
      k.hasSubsequence(UTF8String.fromString(h), UTF8String.fromString(n))
    def subU(h: String, n: String): Int =
      k.hasSubsequenceUTF8(UTF8String.fromString(h), UTF8String.fromString(n))
    forSamples(Gen.zip(word, word)) { case (a, b) =>
      // reflexive; empty needle always; needle = any subsequence holds
      assert(sub(a, a) === 1)
      assert(sub(a, "") === 1)
      assert(sub(a + b, a) === 1 && sub(a + b, b) === 1)
      // deleting one char keeps it a subsequence
      if (a.length > 1) assert(sub(a, a.substring(1)) === 1)
      // a longer needle than haystack never matches
      if (b.length > a.length + 1) assert(sub(a, a + b) === 0)
      // byte and code-point walks agree on ASCII
      assert(sub(a, b) === subU(a, b))
    }
    // multi-byte: the byte walk can match PARTS of a code point that
    // the UTF8 walk must not ('é' = 0xC3 0xA9; needle 'é' inside 'éx')
    assert(subU("\u00e9x", "\u00e9") === 1)
    assert(k.hasSubsequenceCI(UTF8String.fromString("AbC"),
      UTF8String.fromString("abc")) === 1)
  }

  test("r15 kernels: ngram signatures are deterministic, CI = lowercase, locality holds") {
    val k = graft.functions.ChScalarKernels6
    def sh(s: String): Long = k.ngramSimHash(UTF8String.fromString(s))
    forSamples(word) { w =>
      assert(sh(w) === sh(w))
      assert(k.ngramSimHashCI(UTF8String.fromString(w.toUpperCase)) ===
        sh(w.toLowerCase))
      val mm = k.ngramMinHash(UTF8String.fromString(w))
      assert(mm.getLong(0) <= mm.getLong(1))
    }
    // a one-char edit of a long string moves FEW bits; unrelated text many
    val base = "the quick brown fox jumps over the lazy dog"
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(base), sh(base.replace('o', '0'))) <
      ham(sh(base), sh("completely unrelated words in this sentence")))
  }

  test("r15 kernels: normalizeArr yields unit norm, zero vector unchanged") {
    val k = graft.functions.ChScalarKernels6
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    forSamples(Gen.listOfN(8, Gen.chooseNum(-50, 50))) { xs =>
      val v = xs.map(_.toDouble).toArray
      def normed(mode: Int): Array[Double] = {
        val r = k.normalizeArr(new GenericArrayData(v), mode)
        (0 until r.numElements()).map(r.getDouble).toArray
      }
      if (v.exists(_ != 0.0)) {
        assert(math.abs(normed(1).map(math.abs).sum - 1.0) < 1e-9)
        assert(math.abs(math.sqrt(normed(2).map(x => x * x).sum) - 1.0) < 1e-9)
        assert(math.abs(normed(3).map(math.abs).max - 1.0) < 1e-9)
      } else {
        assert(normed(2).toSeq === v.toSeq)
      }
    }
  }

  test("shingleCharFolds == the split('')/ascii chain on invalid UTF-8") {
    import org.apache.spark.sql.catalyst.expressions.{Ascii, Literal, Lower, StringSplit, StringTrim}
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.StringType
    val P = graft.functions.PortableHash.P
    def str(s: UTF8String) = Literal(s, StringType)
    def strings(a: Any): Seq[UTF8String] = {
      val arr = a.asInstanceOf[ArrayData]
      (0 until arr.numElements()).map(arr.getUTF8String)
    }
    // Spark's own lower/trim/split/ascii evaluate the chain; only the
    // slice/array_join/aggregate glue is restated
    def chain(text: UTF8String, w: Int): Seq[Long] = {
      val ws = strings(StringSplit(StringTrim(Lower(str(text))), Literal("\\s+"), Literal(-1))
        .eval()).filter(_.numBytes > 0)
      (0 until math.max(ws.length - w + 1, 1)).map { i =>
        val sh = UTF8String.concatWs(UTF8String.fromString(" "), ws.slice(i, i + w): _*)
        strings(StringSplit(str(sh), Literal(""), Literal(-1)).eval()).foldLeft(7L) {
          (acc, c) => (acc * 31 + Ascii(str(c)).eval().asInstanceOf[Int]) % P
        }
      }
    }
    forSamples(invalidText, 300) { t =>
      val got = SignatureKernels.shingleCharFolds(t, 3).toLongArray.toSeq
      assert(got === chain(t, 3), hex(t))
    }
  }
}
