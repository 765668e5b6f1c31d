package graft

import org.scalacheck.{Gen, Prop, Test => ScTest}
import org.apache.spark.sql.functions._
import graft.operators.AsOfJoin
import graft.seamf.{HalfFloat, SeamfCodec, SeamfFixtures, SeamfMetadata}

/** Property-based tests (SURVEY.md §5): dB/linear round-trips, trace
  * split/reassembly conservation, as-of join vs brute force on random data.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def check(prop: Prop, n: Int = 200): Unit = {
    val res = ScTest.check(ScTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, res.status.toString)
  }

  test("URL canonicalization is IDEMPOTENT over the messy-component grid: " +
      "canonicalize(canonicalize(u)) === canonicalize(u)") {
    // the defining canonicalizer property: its output is itself a URL
    // already in canonical form. Exhaustive over the component grid
    // (4*2*6*4*4*6*4 = 18432 urls — userinfo, PSL hosts, value-less
    // tracking tokens and '?'-bearing fragments included, ADVICE r10)
    // rather than sampled — it's one Spark job.
    val schemes = Seq("http", "HTTP", "https", "HTTPS")
    val users = Seq("", "u:Pw@")
    val hosts = Seq("WWW.Example.COM", "sub.Site.org", "www.a.b.news.io",
      "HOST.net", "pub.CO.UK", "me.github.io")
    val ports = Seq("", ":80", ":443", ":8080")
    val paths = Seq("", "/", "/a/b", "/x%20y")
    val queries = Seq("", "?b=2&a=1", "?utm_source=x",
      "?utm_a=1&z=9&ref=t&a=2", "?a=1&a=1", "?fbclid&keep=1&utm_x")
    val frags = Seq("", "#f", "#Sec-9", "#f?x=1&utm_q=2")
    val urls = (for {
      s0 <- schemes; u <- users; h <- hosts; p <- ports; pa <- paths
      q <- queries; f <- frags
    } yield s0 + "://" + u + h + p + pa + q + f).toDF("url")
    val bad = urls
      .select(graft.operators.UrlOps.canonicalizeUrl(col("url")).as("c1"))
      .select(col("c1"),
        graft.operators.UrlOps.canonicalizeUrl(col("c1")).as("c2"))
      .filter(!(col("c1") <=> col("c2")))
    assert(bad.count() === 0,
      s"non-idempotent canonicalizations: ${bad.take(3).mkString(", ")}")
  }

  test("dB <-> linear power round-trips within 1e-12 relative") {
    check(Prop.forAll(Gen.chooseNum(-180.0, 100.0)) { db =>
      val rt = 10.0 * math.log10(math.pow(10.0, db / 10.0))
      math.abs(rt - db) <= 1e-10 * math.max(1.0, math.abs(db))
    })
  }

  test("trace split conserves the payload: sum of layout lengths x captures") {
    check(Prop.forAll(Gen.chooseNum(1, 20), Gen.chooseNum(1, 6)) { (psdLen, nCh) =>
      val shape = SeamfFixtures.Shape(psdLen, psdLen + 3, psdLen + 7, psdLen + 1)
      val payload = SeamfFixtures.buildPayload(nCh, shape)
      payload.length == shape.perCapture * nCh
    }, n = 50)
  }

  test("xz + half-float vector codec round-trips random payloads") {
    val genVals = Gen.listOfN(64, Gen.chooseNum(-1000.0f, 1000.0f))
    check(Prop.forAll(genVals) { vs =>
      val quantized = vs.map(v =>
        HalfFloat.toFloat(HalfFloat.fromFloat(v) & 0xffff))
      val bytes = SeamfCodec.xzCompress(
        HalfFloat.encodeVector(quantized.toArray))
      HalfFloat.decodeVector(SeamfCodec.xzDecompress(bytes)).toSeq == quantized
    }, n = 30)
  }

  test("as-of backward join matches brute force on random event sets") {
    val genRows = for {
      nLeft <- Gen.chooseNum(1, 30)
      nRight <- Gen.chooseNum(0, 30)
      lefts <- Gen.listOfN(nLeft, Gen.zip(Gen.chooseNum(1L, 3L), Gen.chooseNum(0L, 100L)))
      rights <- Gen.listOfN(nRight, Gen.zip(Gen.chooseNum(1L, 3L), Gen.chooseNum(0L, 100L)))
    } yield (lefts, rights)

    check(Prop.forAll(genRows) { case (lefts, rights) =>
      // unique (key, ts) on the right for determinism
      val r = rights.distinct.zipWithIndex
        .map { case ((k, ts), i) => (k, ts, i.toDouble) }
      val rByKey = r.groupBy(_._1)
      val left = lefts.toDF("k", "ts")
      val right = r.toDF("k", "ts", "v")
      val got = AsOfJoin.backward(left, right, Seq("k"), "ts", "ts", Seq("v"))
        .collect().map(row => (row.getLong(0), row.getLong(1),
          Option(row.get(2)).map(_.asInstanceOf[Double]))).toSet
      val want = lefts.map { case (k, ts) =>
        val best = rByKey.getOrElse(k, Nil).filter(_._2 <= ts)
          .sortBy(x => (x._2, x._3)).lastOption
        (k, ts, best.map(_._3))
      }.toSet
      got == want
    }, n = 25)
  }

  // Reference leftmost-greedy BPE merge: scan left to right, merge (p1, p2)
  // occurrences, never re-examining a just-merged symbol.
  private def refMerge(toks: List[String], p1: String, p2: String)
      : List[String] = toks match {
    case a :: b :: rest if a == p1 && b == p2 =>
      (a + b) :: refMerge(rest, p1, p2)
    case a :: rest => a :: refMerge(rest, p1, p2)
    case Nil => Nil
  }

  test("Bpe.applyMerge matches the sequential reference on random sequences") {
    val genTok = Gen.oneOf("a", "b", "ab", "c")
    val genSeq = Gen.nonEmptyListOf(genTok)
    val genPair = Gen.oneOf(("a", "a"), ("a", "b"), ("b", "a"), ("ab", "c"))
    check(Prop.forAll(Gen.listOfN(8, genSeq), genPair) { (seqs, pair) =>
      val df = seqs.zipWithIndex
        .map { case (ts, i) => (s"w$i", 1L, ts.mkString(" ")) }
        .toDF("word", "cnt", "seq")
      val got = graft.operators.Bpe.applyMerge(df, pair._1, pair._2)
        .collect().map(r => r.getString(0) -> r.getString(2)).toMap
      seqs.zipWithIndex.forall { case (ts, i) =>
        got(s"w$i") == refMerge(ts, pair._1, pair._2).mkString(" ")
      }
    }, n = 20)
  }

  test("distributedCumsum equals the sequential scan for random data/partitioning") {
    val gen = for {
      n <- Gen.chooseNum(0, 120)
      vals <- Gen.listOfN(n, Gen.chooseNum(-50, 50))
      parts <- Gen.chooseNum(1, 9)
      layout <- Gen.chooseNum(1, 8)
    } yield (vals, parts, layout)
    check(Prop.forAll(gen) { case (vals, parts, layout) =>
      val rows = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      val df = rows.toDF("id", "v").repartition(layout)
      val got = graft.operators.Windowed
        .distributedCumsum(df, "id", "v", nPartitions = parts)
        .orderBy("id").select("cumsum").as[Long].collect().toSeq
      graft.operators.Windowed.unpersistAll()
      got == rows.scanLeft(0L)(_ + _._2).drop(1)
    }, n = 15)
  }

  test("distributedLag equals the sequential lag for random data/partitioning") {
    val gen = for {
      n <- Gen.chooseNum(0, 100)
      keys <- Gen.listOfN(n, Gen.chooseNum(-1000L, 1000L))
      parts <- Gen.chooseNum(1, 9)
      layout <- Gen.chooseNum(1, 8)
    } yield (keys, parts, layout)
    check(Prop.forAll(gen) { case (keys, parts, layout) =>
      // distinct keys: equal keys have no defined lag order, and real
      // callers (gap detection) lag a unique timestamp column
      val ks = keys.distinct
      val df = ks.toDF("t").repartition(layout)
      val got = graft.operators.Windowed
        .distributedLag(df, "t", nPartitions = parts)
        .orderBy("t").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
        .toSeq
      graft.operators.Windowed.unpersistAll()
      val sorted = ks.sorted
      got == sorted.zip(None +: sorted.dropRight(1).map(Some(_)))
    }, n = 15)
  }

  // sequential union-find reference for connected components
  private def refComponents(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("connectedComponents matches sequential union-find on random graphs") {
    val gen = for {
      n <- Gen.chooseNum(1, 40)
      pairs <- Gen.listOfN(n,
        Gen.zip(Gen.chooseNum(0L, 25L), Gen.chooseNum(0L, 25L)))
      parts <- Gen.chooseNum(1, 5)
    } yield (pairs.filter(p => p._1 != p._2), parts)
    check(Prop.forAll(gen) { case (pairs, parts) =>
      pairs.isEmpty || {
        val got = graft.operators.Dedup
          .connectedComponents(pairs.toDF("id_a", "id_b"),
            numPartitions = parts)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        got == refComponents(pairs)
      }
    }, n = 12)
  }

  test("native Shingles equals the HOF formulation on random text") {
    import graft.functions.TextOps
    def hofShingles(text: org.apache.spark.sql.Column, k: Int) =
      TextOps.letCol(TextOps.words(text))(ws => TextOps.shinglesOf(ws, k))
    // random words separated by random whitespace runs (incl. tabs/newlines)
    val word = Gen.chooseNum(1, 4).flatMap(n =>
      Gen.listOfN(n, Gen.alphaNumChar).map(_.mkString))
    val sep = Gen.chooseNum(1, 3).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(' ', '\t', '\n')).map(_.mkString))
    val gen = for {
      n <- Gen.chooseNum(0, 12)
      ws <- Gen.listOfN(n, word)
      seps <- Gen.listOfN(n + 1, sep)
      k <- Gen.chooseNum(1, 4)
    } yield (seps.zip(ws :+ "").map { case (s, w) => s + w }.mkString, k)
    check(Prop.forAll(gen) { case (text, k) =>
      val df = Seq(text).toDF("t")
      val nat = df.select(TextOps.shingles(col("t"), k))
        .as[Seq[String]].head()
      // sequential reference: k-windows over the non-empty \s+ tokens
      val words = text.split("\\s+").filter(_.nonEmpty).toSeq
      val want =
        if (words.length < k) Seq.empty[String]
        else words.sliding(k).map(_.mkString(" ")).toSeq
      // HOF equality wherever the HOF form is well-defined (its k=1
      // zero-word edge emits [""] — see ExpressionsSpec)
      val hofOk = k == 1 && words.isEmpty || {
        val hof = df.select(hofShingles(col("t"), k)).as[Seq[String]].head()
        nat == hof
      }
      nat == want && hofOk
    }, n = 40)
  }

  test("passages reassemble to the normalized word sequence") {
    val word = Gen.chooseNum(1, 3).flatMap(n =>
      Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
    val gen = for {
      n <- Gen.chooseNum(0, 40)
      ws <- Gen.listOfN(n, word)
      p <- Gen.chooseNum(1, 9)
    } yield (ws, p)
    check(Prop.forAll(gen) { case (ws, p) =>
      val text = ws.mkString(" ")
      val got = Seq(text).toDF("text")
        .select(graft.functions.TextOps.passages(col("text"), p))
        .as[Seq[String]].head()
      // non-overlapping cover: rejoining passages restores the word stream,
      // and every passage except the last has exactly p words
      got.flatMap(_.split(" ")).filter(_.nonEmpty) == ws &&
        got.dropRight(1).forall(_.split(" ").length == p) &&
        got.lastOption.forall(_.split(" ").length <= p)
    }, n = 25)
  }

  test("zValue2 matches reference bit interleave and preserves order per tile") {
    val refZ = (x: Long, y: Long, bits: Int) =>
      (0 until bits).foldLeft(0L) { (acc, i) =>
        acc | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
      }
    check(Prop.forAll(Gen.chooseNum(0L, 65535L), Gen.chooseNum(0L, 65535L)) {
      (x, y) =>
        val got = Seq((x, y)).toDF("x", "y")
          .select(graft.operators.ZOrder.zValue2(col("x"), col("y"), 16))
          .head.getLong(0)
        got == refZ(x, y, 16)
    }, n = 30)
  }

  // VERDICT r5 #6: the quantized iterative operators must be partition-
  // invariant — floor-before-sum makes every per-node aggregation an exact
  // long sum, so ANY physical layout must yield bit-identical results.

  test("TextRank ranks are bit-identical under any input partitioning") {
    val word = Gen.oneOf("a", "b", "c", "d", "e", "f")
    val gen = for {
      nDocs <- Gen.chooseNum(1, 6)
      docs <- Gen.listOfN(nDocs,
        Gen.chooseNum(2, 10).flatMap(Gen.listOfN(_, word)))
      l1 <- Gen.chooseNum(1, 8)
      l2 <- Gen.chooseNum(1, 8)
      iters <- Gen.chooseNum(1, 3)
    } yield (docs.map(_.mkString(" ")), l1, l2, iters)
    check(Prop.forAll(gen) { case (docs, l1, l2, iters) =>
      def ranks(layout: Int): Map[String, Long] =
        graft.operators.TextRank
          .keywordRank(docs.toDF("text").repartition(layout), "text", iters)
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      ranks(l1) == ranks(l2)
    }, n = 8)
  }

  test("CountMin counters are layout-invariant and never underestimate") {
    val key = Gen.oneOf("k1", "k2", "k3", "k4", "k5", "k6", "k7", "k8")
    val gen = for {
      n <- Gen.chooseNum(1, 60)
      keys <- Gen.listOfN(n, key)
      l1 <- Gen.chooseNum(1, 8)
      l2 <- Gen.chooseNum(1, 8)
    } yield (keys, l1, l2)
    // width 8 forces collisions, so the no-underestimate direction is the
    // load-bearing half of the CMS guarantee here
    val (depth, width) = (3, 8)
    check(Prop.forAll(gen) { case (keys, l1, l2) =>
      def counters(layout: Int): Map[(Int, Int), Long] =
        graft.operators.CountMin
          .build(keys.toDF("k").repartition(layout), "k", depth, width)
          .collect()
          .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
      val built = graft.operators.CountMin
        .build(keys.toDF("k").repartition(l1), "k", depth, width)
      val exact = keys.groupBy(identity).map { case (k, v) => (k, v.size.toLong) }
      val estMap = graft.operators.CountMin
        .estimate(exact.keys.toSeq.toDF("k"), "k", built, depth, width)
        .collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      counters(l1) == counters(l2) &&
        exact.forall { case (k, n) => estMap(k) >= n }
    }, n = 8)
  }

  // the connector's filter pushdown (SeamfSource folds these predicates
  // into a TracePrune) against a filter over the full reference decode
  test("pruned decode equals decode-then-filter for arbitrary prune windows") {
    import graft.seamf.SeamfReader
    val dir = SeamfFixtures.sharedArchive()
    val full = SeamfReader.traces(spark, dir).collect()
    val (tMin, tMax) = (full.map(_.datetime_us).min, full.map(_.datetime_us).max)
    val freqs = full.map(_.frequency).distinct.sorted
    val genPrune = for {
      tables <- Gen.someOf("psd", "pvt", "pfp", "apd")
      lo <- Gen.chooseNum(tMin - 1, tMax + 1)
      hi <- Gen.chooseNum(lo, tMax + 1)
      fLo <- Gen.oneOf(None +: freqs.map(f => Some(f - 1)).toSeq)
      fHi <- Gen.oneOf(None +: freqs.map(f => Some(f + 1)).toSeq)
    } yield SeamfReader.TracePrune(
      if (tables.isEmpty) None else Some(tables.toSet),
      Some(lo), Some(hi), fLo, fHi)
    def key(r: SeamfReader.TraceRow) =
      (r.file, r.datetime_us, r.frequency, r.table, r.capture_statistic,
        r.detector)
    check(Prop.forAll(genPrune) { p =>
      val want = full.filter(r => p.matchesTable(r.table) &&
        p.matchesCapture(r.datetime_us, r.frequency)).map(key).toSet
      val pushed = Seq(
        p.tables.map(t => col("table").isin(t.toSeq: _*)),
        p.minDatetimeUs.map(col("datetime_us") >= _),
        p.maxDatetimeUs.map(col("datetime_us") <= _),
        p.minFrequency.map(col("frequency") >= _),
        p.maxFrequency.map(col("frequency") <= _)
      ).flatten.foldLeft(lit(true))(_ && _)
      spark.read.format("seamf").load(dir).filter(pushed)
        .as[SeamfReader.TraceRow].collect().map(key).toSet == want
    }, n = 10)
  }

  // Sequential reference for SpanDedup: flag every position whose k-gram
  // appears in >= 2 distinct docs, then left-to-right interval merge
  // (merge iff pos <= running max end — matches the window's
  // pos > max(prev pos + k) new-island rule).
  private def refSpans(docs: List[(Long, String)], k: Int)
      : Set[(Long, Long, Long)] = {
    def gramsOf(t: String): Seq[(Long, String)] =
      if (t.length < k) Nil
      else (0 to t.length - k).map(p => (p + 1L, t.substring(p, p + k)))
    val shared = docs.flatMap { case (id, t) =>
        gramsOf(t).map { case (_, g) => (g, id) }
      }.groupBy(_._1).filter(_._2.map(_._2).distinct.size >= 2).keySet
    docs.flatMap { case (id, t) =>
      val flagged = gramsOf(t).collect { case (p, g) if shared(g) => p }
      flagged.foldLeft(List.empty[(Long, Long)]) { (acc, p) =>
        acc match {
          case (s, e) :: rest if p <= e => (s, math.max(e, p + k)) :: rest
          case _ => (p, p + k) :: acc
        }
      }.map { case (s, e) => (id, s, e) }
    }.toSet
  }

  test("SpanDedup (both plans) matches sequential span merging on " +
      "random low-alphabet corpora, is partition-invariant, and " +
      "stripSpans removes exactly the flagged character ranges") {
    import graft.operators.SpanDedup
    val k = 6
    val genDocs = for {
      n <- Gen.chooseNum(2, 5)
      texts <- Gen.listOfN(n, for {
        len <- Gen.chooseNum(0, 60)
        cs <- Gen.listOfN(len, Gen.oneOf('a', 'b'))
      } yield cs.mkString)
      layout <- Gen.chooseNum(1, 7)
    } yield (texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }, layout)
    check(Prop.forAll(genDocs) { case (docs, layout) =>
      val want = refSpans(docs, k)
      val df = docs.toDF("doc_id", "text")
      def got(robust: Boolean, frame: org.apache.spark.sql.DataFrame) =
        SpanDedup.repeatedSpans(frame, "doc_id", "text", k,
            skewRobust = robust)
          .collect().map(r => (r.getLong(0),
            r.getAs[Number](1).longValue, r.getAs[Number](2).longValue))
          .toSet
      // sequential reference for the strip: keep chars not covered by any
      // flagged span (1-based half-open ranges)
      val spansByDoc = want.groupBy(_._1)
      val wantKept = docs.map { case (id, t) =>
        val sp = spansByDoc.getOrElse(id, Set.empty)
        id -> t.zipWithIndex.collect {
          case (c, i) if !sp.exists(s => i + 1 >= s._2 && i + 1 < s._3) => c
        }.mkString
      }.toMap
      val gotKept = SpanDedup.stripSpans(df, "doc_id", "text", k)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      got(robust = false, df) == want &&
        got(robust = true, df) == want &&
        got(robust = false, df.repartition(layout)) == want &&
        gotKept == wantKept
    }, n = 15)
  }

  // Sequential reference for the suffix-array-grade truth (q102c): grams
  // grouped RAW, flagged on TOTAL occurrence count >= 2 anywhere in the
  // corpus (within-doc repeats included), merged identically to refSpans.
  private def refTruthSpans(docs: List[(Long, String)], k: Int)
      : Set[(Long, Long, Long)] = {
    def gramsOf(t: String): Seq[(Long, String)] =
      if (t.length < k) Nil
      else (0 to t.length - k).map(p => (p + 1L, t.substring(p, p + k)))
    val shared = docs.flatMap { case (_, t) => gramsOf(t).map(_._2) }
      .groupBy(identity).filter(_._2.size >= 2).keySet
    docs.flatMap { case (id, t) =>
      val flagged = gramsOf(t).collect { case (p, g) if shared(g) => p }
      flagged.foldLeft(List.empty[(Long, Long)]) { (acc, p) =>
        acc match {
          case (s, e) :: rest if p <= e => (s, math.max(e, p + k)) :: rest
          case _ => (p, p + k) :: acc
        }
      }.map { case (s, e) => (id, s, e) }
    }.toSet
  }

  test("exactRepeatedSpans matches the sequential occurrence-count truth " +
      "and its span set always covers the production (cross-doc) set") {
    import graft.operators.SpanDedup
    val k = 6
    val genDocs = for {
      n <- Gen.chooseNum(1, 5)
      texts <- Gen.listOfN(n, for {
        len <- Gen.chooseNum(0, 60)
        cs <- Gen.listOfN(len, Gen.oneOf('a', 'b'))
      } yield cs.mkString)
    } yield texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    check(Prop.forAll(genDocs) { docs =>
      val want = refTruthSpans(docs, k)
      val got = SpanDedup.exactRepeatedSpans(docs.toDF("doc_id", "text"),
          "doc_id", "text", k)
        .collect().map(r => (r.getLong(0),
          r.getAs[Number](1).longValue, r.getAs[Number](2).longValue))
        .toSet
      // every char the production rule marks, the truth marks too
      // (precision 1 of q102c's grade, by construction)
      val prodCovered = refSpans(docs, k).forall { case (id, s, e) =>
        (s until e).forall(c =>
          want.exists(t => t._1 == id && t._2 <= c && c < t._3))
      }
      got == want && prodCovered
    }, n = 15)
  }

  // Sequential winnowing reference: 40-bit md5 gram hashes, window of w
  // consecutive grams, min hash with RIGHTMOST position on ties, distinct
  // selections — the low-alphabet generator makes equal-hash ties common,
  // so the tie rule is genuinely exercised.
  private def refWinnow(docs: List[(Long, String)], k: Int, w: Int)
      : Set[(Long, Long, Long)] = {
    def h40(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.take(10), 16)
    }
    docs.flatMap { case (id, t) =>
      if (t.length < k + w - 1) Nil
      else {
        val grams = (0 to t.length - k)
          .map(p => (p + 1L, h40(t.substring(p, p + k))))
        (0 to grams.size - w).map { i =>
          val win = grams.slice(i, i + w)
          val mh = win.map(_._2).min
          (id, win.filter(_._2 == mh).map(_._1).max, mh)
        }
      }
    }.toSet
  }

  test("Winnow matches the sequential rightmost-min winnowing reference " +
      "on random low-alphabet corpora") {
    import graft.operators.Winnow
    val k = 4; val w = 3
    val genDocs = for {
      n <- Gen.chooseNum(1, 4)
      texts <- Gen.listOfN(n, for {
        len <- Gen.chooseNum(0, 40)
        cs <- Gen.listOfN(len, Gen.oneOf('a', 'b'))
      } yield cs.mkString)
      layout <- Gen.chooseNum(1, 7)
    } yield (texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }, layout)
    check(Prop.forAll(genDocs) { case (docs, layout) =>
      val want = refWinnow(docs, k, w)
      def got(frame: org.apache.spark.sql.DataFrame) =
        Winnow.fingerprints(frame, "doc_id", "text", k, w)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .toSet
      // the relational (distributed-window) plan must select the
      // IDENTICAL rows — same hashes, same rightmost-min tie decisions
      def gotRelational(frame: org.apache.spark.sql.DataFrame) =
        Winnow.fingerprintsRelational(frame, "doc_id", "text", k, w)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .toSet
      val df = docs.toDF("doc_id", "text")
      got(df) == want && got(df.repartition(layout)) == want &&
        gotRelational(df) == want
    }, n = 15)
  }

  // Sequential reference for the bigram LM: add-one cross-entropy with
  // floor-scaled 1e9 longs, mirroring NgramLm's smoothing exactly.
  private def refXent(train: List[String], score: List[(Long, String)])
      : Map[Long, (Long, Double)] = {
    def toks(t: String) = t.toLowerCase.split("\\s+").filter(_.nonEmpty).toList
    def bigrams(t: String) = { val w = toks(t); w.zip(w.drop(1)) }
    val tb = train.flatMap(bigrams)
    val c12 = tb.groupBy(identity).map { case (g, v) => (g, v.size.toLong) }
    val c1 = tb.groupBy(_._1).map { case (w, v) => (w, v.size.toLong) }
    val v = math.max(train.flatMap(toks).distinct.size.toLong, 1L)
    score.flatMap { case (id, t) =>
      val bg = bigrams(t)
      if (bg.isEmpty) None
      else {
        val l9s = bg.map { g =>
          math.floor(math.log((c12.getOrElse(g, 0L) + 1.0) /
            (c1.getOrElse(g._1, 0L) + v.toDouble)) * 1e9).toLong
        }
        Some(id -> (bg.size.toLong, -l9s.sum.toDouble / bg.size / 1e9))
      }
    }.toMap
  }

  test("NgramLm cross-entropy matches the sequential reference and is " +
      "bit-identical under any input partitioning") {
    import graft.operators.NgramLm
    val word = Gen.oneOf("a", "b", "c", "d")
    val genText = Gen.chooseNum(0, 8)
      .flatMap(Gen.listOfN(_, word)).map(_.mkString(" "))
    val gen = for {
      train <- Gen.chooseNum(1, 4).flatMap(Gen.listOfN(_, genText))
      score <- Gen.chooseNum(1, 5).flatMap(Gen.listOfN(_, genText))
      l1 <- Gen.chooseNum(1, 7)
      l2 <- Gen.chooseNum(1, 7)
    } yield (train, score.zipWithIndex.map { case (t, i) => (i.toLong, t) },
      l1, l2)
    check(Prop.forAll(gen) { case (train, score, l1, l2) =>
      val trainDf = train.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      def got(layout: Int): Map[Long, (Long, Double)] = {
        val m = NgramLm.train(trainDf.repartition(layout), "doc_id", "text")
        NgramLm.crossEntropy(m, score.toDF("doc_id", "text")
            .repartition(layout), "doc_id", "text")
          .collect()
          .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      }
      val a = got(l1)
      a == refXent(train, score) && a == got(l2)
    }, n = 10)
  }

  // Sequential reference for Naive Bayes: floor-scaled add-one log scores,
  // argmax with ties to the lexicographically smallest class.
  private def refNbPredict(train: List[(String, String)],
      score: List[(Long, String)]): Map[Long, String] = {
    def toks(t: String) = t.toLowerCase.split("\\s+").filter(_.nonEmpty).toList
    val n = train.size.toLong
    val classes = train.map(_._1).distinct.sorted
    val nDocsC = train.groupBy(_._1).map { case (c, v) => (c, v.size.toLong) }
    val nWordsC = train.groupBy(_._1)
      .map { case (c, v) => (c, v.map(d => toks(d._2).size).sum.toLong) }
    val cwc = train.flatMap { case (c, t) => toks(t).map(w => (w, c)) }
      .groupBy(identity).map { case (k, v) => (k, v.size.toLong) }
    val v = math.max(train.flatMap(d => toks(d._2)).distinct.size.toLong, 1L)
    score.flatMap { case (id, t) =>
      val ws = toks(t)
      if (ws.isEmpty) None
      else {
        val best = classes.map { c =>
          val prior9 = math.floor(
            math.log(nDocsC(c) / n.toDouble) * 1e9).toLong
          val sum9 = ws.map { w =>
            math.floor(math.log((cwc.getOrElse((w, c), 0L) + 1.0) /
              (nWordsC(c) + v.toDouble)) * 1e9).toLong
          }.sum
          (-(sum9 + prior9), c)
        }.min
        Some(id -> best._2)
      }
    }.toMap
  }

  test("NaiveBayes predictions match the sequential reference and are " +
      "bit-identical under any input partitioning") {
    import graft.operators.NaiveBayes
    val word = Gen.oneOf("u", "v", "w", "x")
    val cls = Gen.oneOf("p", "q")
    val genText = Gen.chooseNum(1, 6)
      .flatMap(Gen.listOfN(_, word)).map(_.mkString(" "))
    val gen = for {
      train <- Gen.chooseNum(2, 6)
        .flatMap(Gen.listOfN(_, Gen.zip(cls, genText)))
      score <- Gen.chooseNum(1, 5).flatMap(Gen.listOfN(_, genText))
      l1 <- Gen.chooseNum(1, 7)
      l2 <- Gen.chooseNum(1, 7)
    } yield (train, score.zipWithIndex.map { case (t, i) => (i.toLong, t) },
      l1, l2)
    check(Prop.forAll(gen) { case (train, score, l1, l2) =>
      val trainDf = train.zipWithIndex
        .map { case ((c, t), i) => (i.toLong, c, t) }
        .toDF("doc_id", "source", "text")
      def got(layout: Int): Map[Long, String] = {
        val m = NaiveBayes.train(trainDf.repartition(layout),
          "source", "text")
        NaiveBayes.predict(m, score.toDF("doc_id", "text")
            .repartition(layout), "doc_id", "text")
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      }
      val a = got(l1)
      a == refNbPredict(train, score) && a == got(l2)
    }, n = 10)
  }

  /** Sequential reference for LogReg's quantized GD: same double
    * arithmetic order, same HALF_UP decimal(38,18) per-term rounding,
    * exact decimal sums, same floor(w * 1e6) grid.
    */
  private def refGdTrajectory(rows: Seq[(Int, Array[Double])], lr: Double,
      iters: Int): Seq[(Seq[Long], Long)] = {
    val k = rows.head._2.length
    var wq = Array.fill(k)(0L)
    def z(x: Array[Double]): Double = {
      var s = 0.0; var j = 0
      while (j < k) { s += (wq(j) / 1e6) * x(j); j += 1 }
      s
    }
    (1 to iters).map { _ =>
      val sums = Array.fill(k)(java.math.BigDecimal.ZERO)
      rows.foreach { case (y, x) =>
        val r = 1.0 / (1.0 + math.exp(-z(x))) - y
        var j = 0
        while (j < k) {
          sums(j) = sums(j).add(java.math.BigDecimal.valueOf(r * x(j))
            .setScale(18, java.math.RoundingMode.HALF_UP))
          j += 1
        }
      }
      wq = Array.tabulate(k)(j => math.floor(
        (wq(j) / 1e6 - lr * sums(j).doubleValue / rows.size) * 1e6).toLong)
      val correct = rows.count { case (y, x) => (z(x) >= 0.0) == (y == 1) }
      (wq.toSeq, correct.toLong)
    }
  }

  test("LogReg trajectory matches the sequential quantized-GD reference " +
      "under any input partitioning") {
    import graft.operators.LogReg
    val gen = for {
      n <- Gen.chooseNum(1, 25)
      rows <- Gen.listOfN(n, Gen.zip(Gen.oneOf(0, 1),
        Gen.listOfN(2, Gen.chooseNum(-3.0, 3.0))))
      parts <- Gen.chooseNum(1, 7)
    } yield (rows.map { case (y, xs) => (y, Array(1.0) ++ xs) }, parts)
    check(Prop.forAll(gen) { case (rows, parts) =>
      val df = rows.map { case (y, x) => (y, x(0), x(1), x(2)) }
        .toDF("y", "x0", "x1", "x2").repartition(parts)
      val got = LogReg.trainTrajectory(df, Seq("x0", "x1", "x2"), "y",
          0.5, 2).orderBy("iter").collect()
        .map(r => ((1 to 3).map(r.getLong), r.getLong(4))).toSeq
      LogReg.unpersistAll()
      got == refGdTrajectory(rows, 0.5, 2)
    }, n = 15)
  }

  test("weightTrajectoryWide matches the sequential reference at EVERY " +
      "step under any input partitioning") {
    import graft.operators.LogReg
    val gen = for {
      n <- Gen.chooseNum(1, 25)
      rows <- Gen.listOfN(n, Gen.zip(Gen.oneOf(0, 1),
        Gen.listOfN(2, Gen.chooseNum(-3.0, 3.0))))
      parts <- Gen.chooseNum(1, 7)
    } yield (rows.map { case (y, xs) => (y, Array(1.0) ++ xs) }, parts)
    check(Prop.forAll(gen) { case (rows, parts) =>
      val df = rows.map { case (y, x) => (y, x(0), x(1), x(2)) }
        .toDF("y", "x0", "x1", "x2").repartition(parts)
      val wide = LogReg.weightTrajectoryWide(df, Seq("x0", "x1", "x2"), "y",
        0.5, 2).collect().head
      LogReg.unpersistAll()
      val ref = refGdTrajectory(rows, 0.5, 2)
      (1 to 2).forall(t =>
        (0 until 3).map(j => wide.getAs[Long](s"w${t}q_$j")) == ref(t - 1)._1)
    }, n = 15)
  }

  test("rocAuc9 equals brute-force pair counting (concordant + half-ties) " +
      "for any score multiset") {
    import graft.operators.MlMetrics
    val gen = for {
      n <- Gen.chooseNum(1, 40)
      rows <- Gen.listOfN(n, Gen.zip(Gen.chooseNum(-5L, 5L), Gen.oneOf(0, 1)))
      parts <- Gen.chooseNum(1, 7)
    } yield (rows, parts)
    check(Prop.forAll(gen) { case (rows, parts) =>
      val pos = rows.collect { case (s, 1) => s }
      val neg = rows.collect { case (s, 0) => s }
      val s2 = pos.map(p => neg.map(q =>
        if (p > q) 2L else if (p == q) 1L else 0L).sum).sum
      val expAuc9 =
        if (pos.isEmpty || neg.isEmpty) -1L
        else s2 * 1000000000L / (2L * pos.size * neg.size)
      val got = MlMetrics.rocAuc9(
        rows.toDF("z9", "y").repartition(parts), "z9", "y").collect().head
      graft.operators.Windowed.unpersistAll()
      got.getLong(0) == pos.size && got.getLong(1) == neg.size &&
        // Mann-Whitney identity: 2R+ = s2 + nPos*(nPos+1)
        got.getLong(2) == s2 + pos.size.toLong * (pos.size + 1) &&
        got.getLong(3) == expAuc9
    }, n = 30)
  }

  test("prCurve9 equals the brute-force threshold sweep for any score " +
      "multiset") {
    import graft.operators.MlMetrics
    val gen = for {
      n <- Gen.chooseNum(1, 40)
      rows <- Gen.listOfN(n, Gen.zip(Gen.chooseNum(-5L, 5L), Gen.oneOf(0, 1)))
      parts <- Gen.chooseNum(1, 7)
    } yield (rows, parts)
    check(Prop.forAll(gen) { case (rows, parts) =>
      val nPos = rows.count(_._2 == 1).toLong
      val expected = rows.map(_._1).distinct.sorted.map { t =>
        val kept = rows.filter(_._1 >= t)
        val tp = kept.count(_._2 == 1).toLong
        val pp = kept.size.toLong
        (t, tp, pp - tp, nPos - tp,
          tp * 1000000000L / pp,
          if (nPos == 0) -1L else tp * 1000000000L / nPos)
      }
      val got = MlMetrics.prCurve9(
          rows.toDF("z9", "y").repartition(parts), "z9", "y").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSeq
      graft.operators.Windowed.unpersistAll()
      got == expected
    }, n = 30)
  }

  test("rocAuc9 is exact past the old all-long bound: 200k rows where " +
      "2R*1e9 overflows a long (VERDICT r8 #7 / ADVICE r8)") {
    import graft.operators.MlMetrics
    import org.apache.spark.sql.functions._
    // 200k distinct scores, perfect separation: the pre-decimal formula's
    // (2R - n(n+1)) * 1e9 = 2e10 * 1e9 = 2e19 > 2^63 silently wrapped;
    // the DECIMAL(38,0) path must report exactly AUC = 1.0
    val df = spark.range(200000).select(col("id").as("z9"),
      (col("id") >= 100000).cast("int").as("y"))
    val got = MlMetrics.rocAuc9(df, "z9", "y").collect().head
    graft.operators.Windowed.unpersistAll()
    assert(got.getLong(0) === 100000L && got.getLong(1) === 100000L)
    assert(got.getLong(2) === 30000100000L) // 2 * sum(100001..200000)
    assert(got.getLong(3) === 1000000000L)
  }

  test("Unimax matches the closed-form water level on random inputs") {
    import graft.operators.Unimax
    val gen = for {
      k <- Gen.chooseNum(1, 12)
      ns <- Gen.listOfN(k, Gen.chooseNum(0L, 5000L))
      pm <- Gen.chooseNum(100L, 6000L)
      e <- Gen.chooseNum(1, 6)
    } yield (ns.zipWithIndex.map { case (n, i) => (f"s$i%02d", n) }, pm, e)
    check(Prop.forAll(gen) { case (ns, pm, e) =>
      val got = Unimax.allocate(ns.toDF("source", "n_tokens"), "source",
          "n_tokens", budgetPerMille = pm, epochCap = e)
        .select("source", "n_tokens", "cap", "alloc_tokens")
        .as[(String, Long, Long, Long)].collect()
        .map(r => r._1 -> r).toMap
      val budget = ns.map(_._2).sum * pm / 1000
      // faithful mirror of the operator's closed form: ascending caps;
      // rows BEFORE the first overflow take their full cap, the rest take
      // the water level = the first overflowing candidate, with overflow
      // decided by the SAME double compare the operator (and oracle) use
      val caps = ns.map { case (s, n) => (s, n * e) }
        .sortBy { case (s, c) => (c, s) }
      var pre = 0L
      var thr = Double.NaN // NaN = no overflow anywhere
      val exp = caps.zipWithIndex.map { case ((s, c), i) =>
        val tcand = (budget - pre).toDouble / (caps.size - i)
        if (thr.isNaN && c.toDouble > tcand) thr = tcand
        pre += c
        s -> (if (thr.isNaN) c else math.floor(thr).toLong)
      }.toMap
      val allocs = got.map { case (s, (_, _, _, a)) => s -> a }
      // exact agreement + independent invariants (never over cap/budget)
      val underCap = got.values.forall { case (_, _, cap, a) => a <= cap }
      allocs == exp && underCap && allocs.values.sum <= budget
    }, n = 15)
  }

  test("mergeClusterArtifact === from-scratch connectedComponents over " +
      "the union for RANDOM edge sets and RANDOM prior/delta splits " +
      "(the q130 exactness claim, adversarially sampled)") {
    val gen = for {
      nEdges <- Gen.chooseNum(1, 25)
      edges <- Gen.listOfN(nEdges, for {
        a <- Gen.chooseNum(0L, 18L); b <- Gen.chooseNum(0L, 18L)
        if a != b
      } yield (math.min(a, b), math.max(a, b)))
      // delta membership per edge — ANY split, not just node-predicate
      // splits (a delta can re-link two prior components, attach new
      // nodes, or duplicate a prior edge)
      mask <- Gen.listOfN(edges.length, Gen.oneOf(true, false))
    } yield (edges, mask)
    check(Prop.forAll(gen) { case (edges, mask) =>
      val all = edges.toDF("id_a", "id_b")
      val priorPairs = edges.zip(mask).collect { case (e, false) => e }
      val deltaPairs = edges.zip(mask).collect { case (e, true) => e }
      val scratch = graft.operators.Dedup.connectedComponents(all)
        .as[(Long, Long)].collect().toSeq.sorted
      val merged =
        if (deltaPairs.isEmpty) scratch // nothing arrived; vacuous round
        else {
          val prior = graft.operators.Dedup.clusterArtifact(
            graft.operators.Dedup.connectedComponents(
              priorPairs.toDF("id_a", "id_b")))
          graft.operators.Dedup.mergeClusterArtifact(prior,
              deltaPairs.toDF("id_a", "id_b"))
            .as[(Long, Long)].collect().toSeq.sorted
        }
      merged == scratch
    }, n = 8)
  }

  test("editDistancePairsFullRadius finds a planted pair under ANY " +
      "random edit script of <= 8 operations (the q126c full-radius " +
      "guarantee, adversarially sampled)") {
    val alpha = Gen.oneOf(('a' to 'f') :+ ' ')
    val gen = for {
      len <- Gen.chooseNum(60, 240)
      base <- Gen.listOfN(len, alpha).map(_.mkString)
      nEdits <- Gen.chooseNum(1, 8)
      ops <- Gen.listOfN(nEdits, for {
        kind <- Gen.chooseNum(0, 2) // 0=sub, 1=ins, 2=del
        pos <- Gen.chooseNum(0, len - 1)
        ch <- alpha
      } yield (kind, pos, ch))
    } yield (base, ops)
    check(Prop.forAll(gen) { case (base, ops) =>
      // apply edits right-to-left so positions stay valid
      val edited = ops.sortBy(-_._2).foldLeft(base) {
        case (s, (0, p, c)) if p < s.length => s.updated(p, c)
        case (s, (1, p, c)) if p <= s.length =>
          s.substring(0, p) + c + s.substring(p)
        case (s, (2, p, _)) if p < s.length =>
          s.substring(0, p) + s.substring(p + 1)
        case (s, _) => s
      }
      val docs = Seq((0L, base), (1L, edited)).toDF("doc_id", "text")
      val got = graft.operators.Dedup
        .editDistancePairsFullRadius(docs, "doc_id", "text", maxEdit = 8)
        .as[(Long, Long, Long)].collect().toSeq
      graft.operators.Dedup.unpersistAll()
      // the true distance may undercut the script length (edits can
      // cancel); the guarantee is presence at distance <= 8
      base == edited || got.exists(p => p._1 == 0L && p._2 == 1L)
    }, n = 20)
  }

  test("BoundedMinKDistinctLong === sorted(distinct).take(k) under any " +
      "reduce/merge interleaving (the KMV sketch contract)") {
    val agg = graft.functions.Aggregators.BoundedMinKDistinctLong(16)
    val gen = for {
      vals <- Gen.listOf(Gen.chooseNum(Long.MinValue, Long.MaxValue))
      dups <- Gen.someOf(vals) // force real duplicates into the stream
      cut <- Gen.chooseNum(0, vals.length + dups.length)
    } yield (vals ++ dups, cut)
    check(Prop.forAll(gen) { case (all, cut) =>
      val want = all.distinct.sorted.take(16)
      val (l, r) = all.splitAt(cut)
      val direct = agg.finish(all.foldLeft(agg.zero)(agg.reduce))
      val merged = agg.finish(agg.merge(
        l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce)))
      direct == want && merged == want
    })
  }
}
