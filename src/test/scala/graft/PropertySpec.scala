package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.SchemaUnion

/** Property-based laws (SURVEY §5.2): db_merge schema algebra, the
  * detect.csa classifier's containment law, and the explode_outer
  * row-count law, over ScalaCheck-generated inputs (sampled with a fixed
  * seed sequence — the scalatest/scalacheck bridge artifact is not in
  * the offline cache, so sampling is driven manually). */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](gen: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(42L + i)))

  test("HtmlParser law: on fixture-shaped html the tokenizer equals the regex parse") {
    // the S3/X1 oracles keep the regex formulation; this law pins the
    // tokenizer to it over generated inputs, not just the 500 fixtures
    val wordGen = Gen.chooseNum(1, 10).flatMap(n =>
      Gen.listOfN(n, Gen.alphaNumChar).map(_.mkString))
    val paraGen = Gen.chooseNum(1, 6).flatMap(n =>
      Gen.listOfN(n, wordGen).map(_.mkString(" ")))
    val docGen = for {
      nps <- Gen.chooseNum(1, 5)
      paras <- Gen.listOfN(nps, paraGen)
      head <- paraGen
      href <- wordGen
    } yield (head, paras, href)
    val cases = samples(docGen, 40)
    assert(cases.nonEmpty)
    cases.foreach { case (head, paras, href) =>
      val html = s"<html><h3>$head</h3>" +
        paras.map(p => s"<p>$p</p>").mkString +
        s"""<a href="https://x/$href">src</a></html>"""
      val (els, lnks) = org.apache.spark.sql.graft.HtmlParser.parse(html)
      // regex twins (the oracle formulation)
      val reP = "<p>(.*?)</p>".r.findAllMatchIn(html).map(_.group(1)).toSeq
      val reH3 = "<h3>(.*?)</h3>".r.findFirstMatchIn(html).map(_.group(1)).get
      val reHref = "<a href=\"(.*?)\">".r.findFirstMatchIn(html).map(_.group(1)).get
      assert(els.filter(_._1 == "p").map(_._2) == reP, html)
      assert(els.find(_._1 == "h3").map(_._2).contains(reH3), html)
      assert(lnks.map(_._2).headOption.contains(reHref), html)
    }
  }

  test("CC law: star contraction equals label propagation on random graphs") {
    // two independent algorithms, one spec: any divergence on random
    // multigraphs (self-loops, parallel edges, isolated stars) is a bug
    // in one of them
    val edgeGen = for {
      n <- Gen.chooseNum(2, 16)
      m <- Gen.chooseNum(1, 24)
      edges <- Gen.listOfN(m, for {
        a <- Gen.chooseNum(0, n - 1); b <- Gen.chooseNum(0, n - 1)
      } yield (f"n$a%02d", f"n$b%02d"))
    } yield edges
    // plus fixed edge cases: an input that is already a star (one
    // round), parallel duplicate edges, a self-loop-only node next to
    // an edge, and two disjoint edges
    val fixed = Seq(
      Seq(("n00", "n01"), ("n00", "n02"), ("n00", "n03")),
      Seq(("n01", "n02"), ("n02", "n01"), ("n01", "n02"), ("n02", "n03")),
      Seq(("n05", "n05"), ("n01", "n02")),
      Seq(("n00", "n01"), ("n02", "n03")))
    val cases = samples(edgeGen, 4)
    assert(cases.nonEmpty)
    // the last case also runs the checkpointed (`reliable`) path
    val runs = (fixed ++ cases).map(_ -> false) :+ (cases.last -> true)
    val ckpt = java.nio.file.Files.createTempDirectory("cc-law").toFile
    spark.sparkContext.setCheckpointDir(ckpt.toString)
    try runs.foreach { case (edges, reliable) =>
      val e = edges.toDF("src", "dst")
      val und = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      val lp = graft.operators.Graph.labelPropagate(und).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      val star = graft.operators.Graph.starContractComponents(und, reliable).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(star == lp, s"divergence on edges $edges (reliable = $reliable)")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(ckpt)
  }

  private val colNameGen = Gen.oneOf("a", "b", "c", "d", "e", "f")
  private val schemaGen = Gen.chooseNum(1, 4).flatMap(k =>
    Gen.listOfN(k, colNameGen).map(_.distinct))

  test("dbMerge law: columns = sorted union, rows = sum, null padding") {
    val cases = samples(for {
      cx <- schemaGen; cy <- schemaGen
      nx <- Gen.chooseNum(0, 5); ny <- Gen.chooseNum(0, 5)
    } yield (cx, cy, nx, ny), 12)
    assert(cases.nonEmpty)
    cases.foreach { case (cx, cy, nx, ny) =>
      val x = spark.range(nx.toLong).toDF("id")
        .select(col("id") +: cx.map(c => concat(lit(c), col("id")).as(c)): _*)
      val y = spark.range(ny.toLong).toDF("id")
        .select(col("id") +: cy.map(c => concat(lit(c), col("id")).as(c)): _*)
      val m = SchemaUnion.dbMerge(x, y)
      assert(m.columns.toSeq == ("id" :: (cx ++ cy).distinct).sorted)
      assert(m.count() == nx.toLong + ny.toLong)
      (cx.toSet -- cy.toSet).foreach { c =>
        assert(m.filter(col(c).isNull).count() >= ny.toLong)
      }
    }
  }

  private val wordGen = Gen.oneOf("spark", "join", "stream", "vector", "noise", "other", "plain")
  private val textGen = Gen.chooseNum(0, 8).flatMap(k =>
    Gen.listOfN(k, wordGen).map(_.mkString(" ")))

  test("classifier law: matches are a subset of the lexicon, in lexicon order") {
    val practices = functions.Lexicon.entries.map(_._2)
    val texts = samples(textGen, 40)
    val df = texts.toDF("text")
      .withColumn("tokens", split(regexp_replace(col("text"), "[\\p{Punct} ]+", " "), " "))
      .withColumn("matched", expr(
        s"""transform(
           |  filter(${functions.Lexicon.sparkArrayLiteral},
           |         kv -> exists(tokens, t -> t rlike concat('(?i)', kv.k))),
           |  kv -> kv.p)""".stripMargin))
    df.select("matched").as[Seq[String]].collect().foreach { m =>
      assert(m.forall(practices.contains))
      assert(m == practices.filter(m.contains)) // lexicon order preserved
    }
  }

  test("explode_outer law: rows = sum(max(1, |matches|))") {
    val sizeLists = samples(Gen.listOfN(5, Gen.chooseNum(0, 4)), 10)
    sizeLists.foreach { sizes =>
      val df = sizes.zipWithIndex
        .map { case (k, i) => (i.toLong, (0 until k).map(_.toString)) }
        .toDF("id", "xs")
      val exploded = df.select(col("id"), explode_outer(col("xs")))
      assert(exploded.count() == sizes.map(k => math.max(1, k)).sum.toLong)
    }
  }

  test("polyhash law: native == HOF on arbitrary ascii strings") {
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    val asciiGen = Gen.listOf(Gen.choose(32.toChar, 126.toChar)).map(_.mkString)
    val strs = samples(asciiGen, 60)
    assert(strs.exists(_.nonEmpty))
    val df = strs.toDF("s").select(
      expr("graft_polyhash(s)").as("native"),
      expr(functions.PortableHash.polyHashHofSql("s")).as("hof"))
    assert(df.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("polyhash JVM-twin law: TextIndex.polyHashJvm == graft_polyhash incl. non-BMP strings") {
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    // mix ascii with supplementary-plane code points (surrogate pairs):
    // the native expression folds CODE POINTS, and a twin folding UTF-16
    // units would route such terms to the wrong index bucket
    val cpGen = Gen.oneOf(
      Gen.choose(32, 126),
      Gen.oneOf(0x1F600, 0x20021, 0x1D49C, 0x10348))
    val strGen = Gen.listOf(cpGen).map(_.flatMap(Character.toChars(_).toSeq).mkString)
    val strs = samples(strGen, 60)
    assert(strs.exists(_.exists(Character.isSurrogate)))
    val native = strs.toDF("s").select(col("s"), expr("graft_polyhash(s)").as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    strs.foreach { s =>
      assert(operators.TextIndex.polyHashJvm(s) == native(s), s"mismatch on '$s'")
    }
  }

  test("token-counts law: native == regex split/extract forms on adversarial strings") {
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    // chars chosen to exercise every boundary the expression hand-rolls:
    // all five Java-\s whitespace chars, 0x20-only trim, ASCII word
    // chars, punctuation, non-ASCII letters, Unicode NBSP (NOT \s),
    // and an astral-plane code point (surrogate-pair iteration)
    val charGen = Gen.frequency(
      5 -> Gen.oneOf(' ', '\t', '\n', '\u000B', '\f', '\r'),
      6 -> Gen.alphaNumChar, 2 -> Gen.oneOf('_', '.', ',', '!', '-'),
      2 -> Gen.oneOf('é', 'ß', '中', '\u00A0'))
    val strGen = Gen.frequency(
      1 -> Gen.const(""), 1 -> Gen.const("  \t  "), 1 -> Gen.const("\ta b\t"),
      1 -> Gen.const("a😀b 😀"),
      10 -> Gen.listOf(charGen).map(_.mkString))
    val strs = samples(strGen, 80)
    assert(strs.exists(_.nonEmpty))
    val df = strs.toDF("s").select(
      expr("graft_token_counts(s)").as("tc"),
      size(split(trim(col("s")), "\\s+")).cast("long").as("ws_re"),
      size(regexp_extract_all(col("s"), lit("[a-zA-Z0-9_]+|[^a-zA-Z0-9_\\s]"), lit(0)))
        .cast("long").as("bpe_re"))
    assert(df.filter(col("tc.ws_tokens") =!= col("ws_re") ||
      col("tc.bpe_tokens") =!= col("bpe_re")).count() == 0)
  }

  test("bounded-editdist law: native == builtin levenshtein(a,b,t) on arbitrary pairs") {
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    // small alphabet forces real edit structure (shared chars, runs);
    // include empty strings and an astral-plane char (code point unit)
    val sGen = Gen.listOf(Gen.oneOf("a", "b", "c", " ", "😀")).map(_.mkString)
    val pairGen = for {
      a <- sGen; b <- sGen; t <- Gen.oneOf(0, 1, 2, 5, 100)
    } yield (a, b, t)
    val cases = samples(pairGen, 200) ++ Seq(
      ("", "", 0), ("", "abc", 2), ("abc", "", 3),
      ("same prefix XX same suffix", "same prefix YYYY same suffix", 8),
      ("same prefix XX same suffix", "same prefix YYYY same suffix", 3))
    val df = cases.toDF("a", "b", "t").select(
      expr("graft_bounded_editdist(a, b, t)").as("native"),
      expr("levenshtein(a, b, t)").as("builtin"))
    assert(df.filter(col("native") =!= col("builtin")).count() == 0)
  }

  test("asofJoin law: output rows == probe rows; value is the max build ts ≤ probe ts") {
    val caseGen = for {
      nProbe <- Gen.chooseNum(1, 12)
      nBuild <- Gen.chooseNum(0, 8)
      probeTs <- Gen.listOfN(nProbe, Gen.chooseNum(0L, 50L))
      buildTs <- Gen.listOfN(nBuild, Gen.chooseNum(0L, 50L))
      keys <- Gen.listOfN(nProbe, Gen.oneOf("k1", "k2"))
      bkeys <- Gen.listOfN(nBuild, Gen.oneOf("k1", "k2"))
    } yield (probeTs.zip(keys), buildTs.zip(bkeys).distinct)
    samples(caseGen, 8).foreach { case (probe, build) =>
      val p = probe.zipWithIndex.map { case ((ts, k), i) => (i.toLong, k, ts) }
        .toDF("pid", "key", "ts")
      val b = build.map { case (ts, k) => (k, ts, s"v$k@$ts") }
        .toDF("key", "ts", "value")
      val out = Graft.temporal.asofJoin(p, b, "key", "ts", "value").collect()
      assert(out.length == probe.length)
      out.foreach { r =>
        val (k, ts) = (r.getString(1), r.getLong(2))
        val expect = build.filter { case (bts, bk) => bk == k && bts <= ts }
          .sortBy(_._1).lastOption.map { case (bts, bk) => s"v$bk@$bts" }
        assert(Option(r.getString(3)) == expect,
          s"key=$k ts=$ts got=${r.getString(3)} want=$expect build=$build")
      }
    }
  }

  test("text-index law: a RANDOM build/upsert/delete sequence serves exactly the surviving corpus at every step") {
    // the signed-delta netting claim, exercised beyond the hand-built
    // lifecycle fixture: after ANY interleaving of re-sends, fresh
    // ids, and deletes, the probe equals the in-query scorer over
    // exactly the documents that survive — bit for bit
    val rnd = new scala.util.Random(42)
    val vocab = Vector("vector", "hash", "stream", "join", "scan",
      "merge", "alpha", "beta", "gamma")
    def mkText(): String =
      Seq.fill(1 + rnd.nextInt(6))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val root = java.nio.file.Files.createTempDirectory("graft_text_prop").toString
    val terms = Seq("vector", "hash", "stream")
    var corpus: Map[Long, String] =
      (0L until 8L).map(id => id -> mkText()).toMap
    graft.operators.TextIndex.build(corpus.toSeq.toDF("doc_id", "text"), root)
    def checkParity(step: String): Unit = {
      val served = graft.operators.TextIndex
        .bm25TopkAtRoot(spark, root, terms, 10).collect().toSeq
      val expect = graft.operators.TextAnalysis
        .bm25TopkOf(corpus.toSeq.toDF("doc_id", "text"), terms, 10).collect().toSeq
      assert(served == expect, s"$step: $served vs $expect")
    }
    for (step <- 1 to 6) {
      if (rnd.nextBoolean() || corpus.isEmpty) {
        // upsert: a mix of re-sends (ids already live) and fresh ids
        val batch = (0 until 1 + rnd.nextInt(3))
          .map(_ => rnd.nextInt(14).toLong -> mkText()).toMap
        corpus = corpus ++ batch
        graft.operators.TextIndex.upsert(batch.toSeq.toDF("doc_id", "text"), root)
      } else {
        // delete: some live, some absent (absent must no-op)
        val ids = (0 until 1 + rnd.nextInt(3)).map(_ => rnd.nextInt(14).toLong).distinct
        corpus = corpus -- ids
        graft.operators.TextIndex.delete(ids.toDF("doc_id"), root)
      }
      checkParity(s"step $step")
    }
    graft.operators.TextIndex.compact(spark, root)
    checkParity("post-compact")
  }

  test("frequentTerms law: candidates+verify equals naive GROUP BY/HAVING under eviction pressure, at any partitioning") {
    import graft.operators.TextAnalysis
    // k = 3 forces constant Misra-Gries evictions; the law is that the
    // RESULT is still exact — the sketch only generates candidates
    val rnd = new scala.util.Random(11)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh",
      "ii", "jj", "kk", "ll")
    for (round <- 1 to 3) {
      // zipf-ish: head tokens dominate, the tail churns the counters
      val toks = (0 until 400).map { _ =>
        val r = rnd.nextDouble()
        if (r < 0.4) vocab(0) else if (r < 0.6) vocab(1)
        else vocab(2 + rnd.nextInt(vocab.size - 2))
      }
      val docs = toks.grouped(7).zipWithIndex
        .map { case (g, i) => (i.toLong, g.mkString(" ")) }.toSeq
        .toDF("doc_id", "text")
      val k = 3
      val n = toks.size
      val expect = toks.groupBy(identity).view.mapValues(_.size.toLong)
        .filter { case (_, c) => c * (k + 1) > n }.toMap
      for (parts <- Seq(1, 7)) {
        val got = TextAnalysis.frequentTermsOf(docs.repartition(parts), k)
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(got == expect, s"round $round parts=$parts: $got vs $expect")
      }
    }
    // the sketch itself honors the retention guarantee stand-alone:
    // any token with count > len/(k+1) holds a counter at the end —
    // 60 of 220 > 220/(3+1) = 55, under any arrival order
    val stream = Seq.fill(60)("hot") ++ (0 until 160).map(i => s"t$i")
    val held = TextAnalysis.misraGries(
      new scala.util.Random(5).shuffle(stream).iterator, 3).toSet
    assert(held.contains("hot"), s"guarantee violated: $held")
  }

  test("unigram segmentation law: equals a brute-force Scala DP on random corpora; a frequent trigram beats chars") {
    import graft.operators.TextAnalysis
    val rnd = new scala.util.Random(13)
    val alphabet = "abcde"
    for (round <- 1 to 2) {
      val words = (0 until 150).map { _ =>
        if (rnd.nextDouble() < 0.5) "the" + alphabet(rnd.nextInt(5))
        else (0 until (1 + rnd.nextInt(8))).map(_ => alphabet(rnd.nextInt(5))).mkString
      }
      val docsSeq = words.grouped(5).zipWithIndex
        .map { case (g, i) => (i.toLong, g.mkString(" ")) }.toSeq
      val docs = docsSeq.toDF("doc_id", "text")
      // brute-force twin of the integer-exact objective
      val B = 1000000000000L
      val allWords = docsSeq.flatMap(_._2.toLowerCase
        .split("[\\p{Punct} ]+").filter(_.nonEmpty)).map(_.take(16))
      val wf = allWords.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val pieceCnt = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      for ((w, f) <- wf; l <- 1 to 3; i <- 0 to w.length - l)
        pieceCnt(w.substring(i, i + l)) += f
      val vocab = pieceCnt.filter { case (p, c) => p.length == 1 || c >= 5 }.toMap
      def seg(w: String): (Long, Long) = {
        val NEG = Long.MinValue / 4
        val best = Array.fill(w.length + 1)(NEG); best(0) = 0L
        for (i <- 1 to w.length; l <- 1 to 3; if i - l >= 0; if best(i - l) != NEG)
          vocab.get(w.substring(i - l, i)).foreach { c =>
            best(i) = math.max(best(i), best(i - l) - B + c) }
        val k = (-best(w.length)) / B + 1
        (k, best(w.length) + k * B)
      }
      val expect = docsSeq.map { case (id, t) =>
        val ws = t.toLowerCase.split("[\\p{Punct} ]+").filter(_.nonEmpty).map(_.take(16))
        val segs = ws.map(seg)
        (id, ws.length.toLong, segs.map(_._1).sum, segs.map(_._2).sum)
      }.toSet
      val got = TextAnalysis.unigramSegmentOf(docs).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got == expect, s"round $round")
      // the frequent 'the' trigram is in vocabulary, so a 'the*' word
      // segments into strictly fewer pieces than its char count
      val theWord = words.find(_.startsWith("the")).get
      assert(seg(theWord)._1 < theWord.length)
    }
  }

  test("count-min law: estimates never underestimate, stay within eps·N, and are partitioning-invariant") {
    import org.apache.spark.util.sketch.CountMinSketch
    val rnd = new scala.util.Random(7)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    val toks = (0 until 500).map { _ =>
      val r = rnd.nextDouble()
      if (r < 0.5) vocab(0) else vocab(1 + rnd.nextInt(vocab.size - 1))
    }
    val exact = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val eps = 0.01
    val slack = math.ceil(eps * toks.size).toLong
    def estimates(parts: Int): Map[String, Long] = {
      val bytes = toks.toDF("token").repartition(parts)
        .agg(expr(s"count_min_sketch(token, ${eps}d, 0.99d, 42)"))
        .head().getAs[Array[Byte]](0)
      val sk = CountMinSketch.readFrom(new java.io.ByteArrayInputStream(bytes))
      vocab.map(t => t -> sk.estimateCount(t)).toMap
    }
    val e1 = estimates(1)
    vocab.foreach { t =>
      val c = exact.getOrElse(t, 0L)
      assert(e1(t) >= c, s"$t underestimated: ${e1(t)} < $c")
      assert(e1(t) <= c + slack, s"$t over eps bound: ${e1(t)} > $c + $slack")
    }
    // the partial-agg merge is exact: same estimates at any partitioning
    assert(estimates(7) == e1)
    // and the registered within-bounds query's booleans all hold
    val rows = graft.operators.TextAnalysis.queries("t_top_tokens_cms")(spark, sf).collect()
    assert(rows.length == 20)
    rows.foreach(r => assert(r.getAs[Boolean]("never_under") && r.getAs[Boolean]("within_eps"), r.toString))
  }

  test("bm25f law: equals a from-scratch Scala model on random corpora; a title hit outscores the same hit in the body") {
    import graft.operators.TextAnalysis
    val rnd = new scala.util.Random(7)
    val vocab = Vector("vector", "hash", "stream", "join", "scan",
      "merge", "alpha", "beta", "gamma")
    val terms = Seq("vector", "hash", "stream")
    val tl = TextAnalysis.Bm25fTitleLen
    def toks(s: String): Array[String] =
      s.toLowerCase.split("[\\p{Punct} ]+").filter(_.nonEmpty)
    def model(corpus: Seq[(Long, String)], k: Int): Seq[(Long, Double)] = {
      val fields = corpus.map { case (id, t) =>
        val ts = toks(t); (id, ts.take(tl), ts.drop(tl)) }
      val n = fields.size.toLong
      val sT = fields.map(_._2.length.toLong).sum
      val sB = fields.map(_._3.length.toLong).sum
      val df = terms.map(t => t ->
        fields.count { case (_, a, b) => a.contains(t) || b.contains(t) }.toLong).toMap
      def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
      fields.map { case (id, title, body) =>
        val nanos = terms.map { t =>
          val (tft, tfb) = (title.count(_ == t).toLong, body.count(_ == t).toLong)
          if (tft + tfb == 0) 0L else {
            val (dlt, dlb) = (title.length.toLong, body.length.toLong)
            val a = 3 * tft * sT * (sB + dlb * n) + tfb * sB * (sT + dlt * n)
            val d = (sT + dlt * n) * (sB + dlb * n)
            val sc = (5 * a * (2 * n - 2 * df(t) + 1)).toDouble /
              ((2 * df(t) + 1) * (3 * d + 5 * a)).toDouble
            math.floor(sc * 1e9 + 0.5).toLong
          }
        }.sum
        (id, r6(nanos.toDouble / 1e9))
      }.sortBy { case (id, s) => (-s, id) }.take(k)
    }
    for (round <- 1 to 4) {
      def mkText(len: Int): String =
        Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      // at least one doc longer than the title cut so S_b > 0 (the
      // documented non-degenerate-field precondition)
      val corpus = (0L until 10L).map(id =>
        id -> mkText(if (id == 0) tl + 6 else 1 + rnd.nextInt(2 * tl)))
      val got = TextAnalysis
        .bm25fTopkOf(corpus.toDF("doc_id", "text"), terms, 5)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == model(corpus, 5), s"round $round: $got vs ${model(corpus, 5)}")
    }
    // field weighting: same token multiset, term in title vs buried in
    // body — the title doc must strictly outrank (this is what BM25F
    // sells over unfielded BM25, which scores the two identically)
    val filler = Seq.fill(tl)("alpha").mkString(" ")
    val pair = Seq(
      1L -> s"vector $filler alpha alpha",  // "vector" inside the title cut
      2L -> s"$filler vector alpha alpha",  // "vector" pushed past it
      3L -> s"$filler alpha alpha alpha")   // S_b donor, no hit
    val ranked = TextAnalysis
      .bm25fTopkOf(pair.toDF("doc_id", "text"), Seq("vector"), 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val byId = ranked.toMap
    assert(byId(1L) > byId(2L), s"title hit must outscore body hit: $ranked")
  }

  test("phraseBm25Of: exact consecutive-token match — order, adjacency, and token boundaries all enforced") {
    import spark.implicits._
    val docs = Seq(
      (1L, "vector hash join"),          // phrase present
      (2L, "hash vector join"),          // both terms, wrong order
      (3L, "xvector hash scan"),         // token-suffix guard: no match
      (4L, "big vector, HASH! done"),    // normalization: punct/case fold
      (5L, "vector only here"),          // one term: not a candidate
      (6L, "the vector hash"),           // present at the tail
      (7L, "vector scan hash"),          // both terms, not adjacent
      (8L, null.asInstanceOf[String])    // null text is safe
    ).toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis
      .phraseBm25Of(docs, Seq("vector", "hash"), 10).collect().toSeq
    assert(out.map(_.getLong(0)).toSet == Set(1L, 4L, 6L))
    assert(out.forall(_.getDouble(1) > 0.0))
    // ranking is by the exact nano-integer total, descending
    val scores = out.map(_.getDouble(1))
    assert(scores == scores.sorted.reverse)
  }

  test("overlap-sketch laws: identical frames overlap exactly; disjoint frames stay inside the stated bound") {
    import graft.operators.Quality
    val n = 20000L
    val a = spark.range(n).select(col("id").as("h"))
    // A == B: the union of a sketch with itself has the SAME registers,
    // so inclusion–exclusion collapses algebraically — est_inter and
    // est_union both equal est_a, exactly, whatever the estimate is
    val same = Quality.overlapSketch(a, a, "h").collect()(0)
    assert(same.getAs[Long]("est_union") == same.getAs[Long]("est_a"))
    assert(same.getAs[Long]("est_inter") == same.getAs[Long]("est_a"))
    // disjoint ranges: union ≈ 2n within the per-side tolerance, and
    // the intersection estimate stays inside the union-relative bound
    // the operator contracts (±5% of union + 64)
    val b = spark.range(n, 2 * n).select(col("id").as("h"))
    val dis = Quality.overlapSketch(a, b, "h").collect()(0)
    assert(math.abs(dis.getAs[Long]("est_union") - 2 * n) <= 0.02 * 2 * n + 32)
    assert(dis.getAs[Long]("est_inter") <= 0.05 * dis.getAs[Long]("est_union") + 64)
  }

  test("skew-report law: exact integer diagnostics on a constructed key distribution") {
    import graft.operators.Quality
    val df = (Seq.fill(10)("a") ++ Seq.fill(5)("b") ++ Seq("c")).toDF("k")
    val rows = Quality.skewReport(df, "k", partitions = 4, topN = 2).collect()
    assert(rows.map(r => (r.getAs[String]("key"), r.getAs[Long]("cnt"),
      r.getAs[Long]("share_ppm"), r.getAs[Long]("salt_factor"),
      r.getAs[Boolean]("needs_salt"))).toSeq == Seq(
      ("a", 10L, 625000L, 3L, true),   // ceil(10·4/16) = 3
      ("b", 5L, 312500L, 2L, true)))   // ceil(5·4/16) = 2
    assert(rows.forall(r => r.getAs[Long]("total") == 16L
      && r.getAs[Long]("n_keys") == 3L))
  }

  test("bloom-reduce law: never drops a matching row; passes at most the bloom's false positives") {
    import graft.operators.RelationalExt
    val fact = Tables.lineitem(spark, sf)
    val dim = Tables.orders(spark, sf)
      .filter(col("o_orderpriority") === "1-URGENT").select(col("o_orderkey"))
    val reduced = RelationalExt.bloomReduce(fact, "l_orderkey", dim, "o_orderkey")
    val trueMatches = fact.join(dim, fact("l_orderkey") === dim("o_orderkey"), "left_semi")
    // no false negatives: every true match survives the bloom
    assert(trueMatches.exceptAll(reduced.select(fact.columns.map(col): _*)).isEmpty)
    // the reduction is real: far fewer rows than the full fact side
    val (nFact, nReduced, nTrue) = (fact.count(), reduced.count(), trueMatches.count())
    assert(nReduced >= nTrue && nReduced < nFact)
  }

  test("hash-sampling law: keep-sets are nested as pct grows; pct=100 keeps everything") {
    val corpus = Tables.documents(spark, sf)
      .select(col("doc_id").as("id"), col("text").as("body")).limit(200)
    val at = Seq(0, 5, 25, 100).map(p =>
      p -> Graft.sampling.byHash(corpus, "body", p).select("id").collect().map(_.getLong(0)).toSet)
    at.sliding(2).foreach { case Seq((pa, sa), (pb, sb)) =>
      assert(sa.subsetOf(sb), s"$pa% sample not nested in $pb%")
      case _ => ()
    }
    assert(at.head._2.isEmpty && at.last._2.size == corpus.count())
  }
}
