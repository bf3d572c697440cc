package graft

import org.apache.spark.sql.functions._

import graft.operators.{Graph, Multimodal}

class GraphMultimodalSpec extends SparkSpec {

  test("g_degrees: total in-degree equals edge count; region roots have in-degree 0") {
    val e = Graph.edges(spark, sf)
    val deg = Graph.queries("g_degrees")(spark, sf)
    assert(deg.agg(sum("in_degree")).collect()(0).getLong(0) == e.count())
    assert(deg.filter(col("node").startsWith("R") && col("in_degree") =!= 0).count() == 0)
  }

  test("g_bfs: depths are layered (region=0, nation=1, leaves=2)") {
    val bfs = Graph.queries("g_bfs")(spark, sf)
    assert(bfs.filter(col("node") === "R0").collect()(0).getAs[Long]("depth") == 0)
    assert(bfs.filter(col("node").startsWith("N") && col("depth") =!= 1).count() == 0)
    assert(bfs.filter((col("node").startsWith("C") || col("node").startsWith("S"))
      && col("depth") =!= 2).count() == 0)
  }

  test("g_cc_labelprop: one label per component root region") {
    val labels = Graph.queries("g_cc_labelprop")(spark, sf)
    // every node in R0's component carries the same label after convergence
    val bfsNodes = Graph.queries("g_bfs")(spark, sf).select("node")
    val comp = labels.join(bfsNodes, "node").select("label").distinct()
    assert(comp.count() == 1)
  }

  test("labelPropagate converges on a diameter-11 path graph (fixpoint, not a fixed round count)") {
    // path v00-v01-...-v11: diameter 11 > the old hardcoded 6 rounds —
    // a fixed-iteration implementation converges to WRONG labels here
    import spark.implicits._
    val path = (0 until 11).map(i => (f"v$i%02d", f"v${i + 1}%02d")).toDF("src", "dst")
    val und = path.unionByName(path.select(col("dst").as("src"), col("src").as("dst")))
    val labels = Graph.labelPropagate(und).collect()
    assert(labels.length == 12)
    assert(labels.forall(_.getString(1) == "v00"))
  }

  test("starContractComponents equals labelPropagate on the harness graph") {
    val lp = Graph.queries("g_cc_labelprop")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val star = Graph.queries("g_cc_star")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(star == lp)
  }

  test("g_cc_star runs at most 18 Spark jobs per call") {
    // two contraction rounds, each followed by the star-forest test on
    // its own output; the loop that stopped on a repeated xor
    // fingerprint ran one more round and fingerprinted its input: 34.
    // Reading its tables with a freshly inferred schema added three: 21
    val q = Graph.queries("g_cc_star")
    q(spark, sf).write.mode("overwrite").format("noop").save() // warm
    val jobs = jobsDuring(q(spark, sf).write.mode("overwrite").format("noop").save())
    assert(jobs <= 18, s"$jobs jobs")
  }

  test("starContractComponents labels a 200-hop path (where round count ∝ diameter would be 200)") {
    // two long chains + one isolated self-looped node: the alternating
    // star contraction converges in O(log n) rounds regardless of the
    // 200-hop diameter (label propagation would need ~200 rounds)
    import spark.implicits._
    val path = (0 until 200).map(i => (f"a$i%03d", f"a${i + 1}%03d")) ++
      (0 until 50).map(i => (f"b$i%03d", f"b${i + 1}%03d")) :+ (("z", "z"))
    val e = path.toDF("src", "dst")
    val und = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
    val labels = Graph.starContractComponents(und).collect()
      .map(r => r.getString(0) -> r.getString(1))
    assert(labels.length == 253) // a000..a200 + b000..b050 + z
    labels.foreach { case (node, label) =>
      val expect = if (node.startsWith("a")) "a000" else if (node.startsWith("b")) "b000" else "z"
      assert(label == expect, s"$node -> $label")
    }
  }

  test("s2_crawl INDEX carries in/out degree and the internal/external link split") {
    val idx = Graph.queries("s2_crawl")(spark, sf)
    // out_degree decomposes exactly into internal + external links
    assert(idx.filter(col("out_degree") =!= col("n_internal") + col("n_external")).count() == 0)
    // the crawl observed both internal and external links somewhere
    assert(idx.agg(sum("n_external")).collect()(0).getLong(0) > 0)
    assert(idx.agg(sum("n_internal")).collect()(0).getLong(0) > 0)
    // seed page is level 0; every visited page is within MaxDepth=2
    assert(idx.filter(col("page_id") === 0).collect()(0).getAs[Long]("level") == 0)
    assert(idx.filter(col("level") > 2).count() == 0)
  }

  test("decodePartitions: real codecs for all three media types (PNG, WAV, MPNG)") {
    val out = Multimodal.decodePartitions(Multimodal.mediaRecords(spark, sf))
    val df = out.toDF()
    assert(df.count() == Tables.documents(spark, sf).count())
    // image rows went through a REAL ImageIO decode: geometry matches
    // the deterministic header, grayscale = 1 band, pixel means in range
    val img = df.filter(col("media_type") === "image")
    assert(img.count() > 0)
    assert(img.filter(col("width") =!= (lit(16) + col("doc_id") % 64)).count() == 0)
    assert(img.filter(col("height") =!= (lit(16) + (col("doc_id") * 7) % 64)).count() == 0)
    assert(img.filter(col("channels") =!= 1).count() == 0)
    assert(img.filter(col("mean_byte") < 0 || col("mean_byte") > 255).count() == 0)
    // audio rows went through a REAL javax.sound decode: frame count
    // and channel count come from the DECODED stream, mean amplitude
    // is a signed-16 value; no image geometry
    val aud = df.filter(col("media_type") === "audio")
    assert(aud.count() > 0)
    assert(aud.filter(col("frames") =!= (lit(256) + col("doc_id") % 512).cast("int")).count() == 0)
    assert(aud.filter(col("channels") =!= 1).count() == 0)
    assert(aud.filter(col("mean_byte") < -32768 || col("mean_byte") > 32767).count() == 0)
    assert(aud.filter(col("width") =!= -1 || col("height") =!= -1).count() == 0)
    // video rows went through a REAL MPNG demux + per-frame ImageIO
    // decode: frame count from the container header, geometry from the
    // decoded rasters, mean pixel in byte range
    val vid = df.filter(col("media_type") === "video")
    assert(vid.count() > 0)
    assert(vid.filter(col("frames") =!= (lit(2) + col("doc_id") % 4).cast("int")).count() == 0)
    assert(vid.filter(col("width") =!= (lit(16) + col("doc_id") % 64)).count() == 0)
    assert(vid.filter(col("height") =!= (lit(16) + (col("doc_id") * 7) % 64)).count() == 0)
    assert(vid.filter(col("mean_byte") < 0 || col("mean_byte") > 255).count() == 0)
    assert(vid.filter(col("channels") =!= 1).count() == 0)
  }

  test("MPNG demux: per-frame decode stats equal the closed form; geometry enforced") {
    Seq(0L, 5L, 42L).foreach { id =>
      val (w, h, nf) = (8, 6, (2 + id % 4).toInt)
      val st = Multimodal.demuxMpng(Multimodal.synthMpng(id, w, h, nf))
      def px(x: Int, y: Int, f: Int): Long =
        (x * 7L + y * 13L + (id + 1000003L * f) * 31L) % 256L
      val all = for (f <- 0 until nf; x <- 0 until w; y <- 0 until h) yield px(x, y, f)
      assert(st == Multimodal.VideoStats(nf.toLong, w.toLong, h.toLong,
        all.sum, all.min, all.max), s"doc $id")
    }
    // a truncated container must fail loudly, not return partial stats
    val good = Multimodal.synthMpng(1L, 4, 4, 2)
    intercept[Exception] {
      Multimodal.demuxMpng(java.util.Arrays.copyOf(good, good.length - 3))
    }
  }

  test("WAV codec roundtrip: decoded stats equal the closed form, headers decoded") {
    // the encode..decode loop must reproduce the generator's samples
    // EXACTLY — a sign, byte-order, or bit-depth bug shifts every stat
    Seq(0L, 1L, 17L, 509L).foreach { id =>
      val n = (256 + id % 512).toInt
      val st = Multimodal.decodeWavStats(Multimodal.synthWav(id, n))
      def amp(i: Int): Long = ((i.toLong * 7919 + id * 104729) % 65536) - 32768
      val amps = (0 until n).map(amp)
      assert(st.nSamples == n.toLong, s"doc $id")
      assert(st.sampleRate == 8000L && st.channels == 1L, s"doc $id")
      assert(st.min == amps.min && st.max == amps.max, s"doc $id")
      assert(st.mean == amps.sum.toDouble / n, s"doc $id")
      assert(st.meanSquare == amps.map(a => a * a).sum.toDouble / n, s"doc $id")
    }
    // pinned literal stats for doc 0, n=4 (hand-computed): catches a
    // symmetric bug that the closed-form twin above would share
    val st0 = Multimodal.decodeWavStats(Multimodal.synthWav(0L, 4))
    assert(st0.min == -32768L && st0.max == -9011L)
    assert(st0.mean == -20889.5 && st0.meanSquare == 5.147594115e8)
  }

  test("PNG codec round-trip pins known pixel stats") {
    // hand-built 2x2 gray image [0, 255; 128, 64] through the SAME
    // encode->decode path: pins the codec itself, no shared formula
    val img = new java.awt.image.BufferedImage(
      2, 2, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    img.getRaster.setSample(0, 0, 0, 0)
    img.getRaster.setSample(1, 0, 0, 255)
    img.getRaster.setSample(0, 1, 0, 128)
    img.getRaster.setSample(1, 1, 0, 64)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val st = Multimodal.decodeStats(bos.toByteArray)
    assert(st == Multimodal.PixelStats(2, 2, 1, 0 + 255 + 128 + 64, 0, 255))
    assert(st.mean == (0 + 255 + 128 + 64) / 4.0)
    // and the synthetic test card for doc 0 decodes to its closed form:
    // pixel(x, y, 0) = (7x + 13y) % 256 over 16x16
    val card = Multimodal.decodeStats(Multimodal.synthPng(0L, 16, 16))
    val vals = for { y <- 0 until 16; x <- 0 until 16 } yield (x * 7 + y * 13) % 256
    assert(card.width == 16 && card.height == 16 && card.channels == 1)
    assert(card.mean == vals.sum.toDouble / 256)
    assert(card.min == vals.min && card.max == vals.max)
  }

  test("phash dedup: planted exact and near dup pair with the base; unrelated image does not") {
    import spark.implicits._
    def png(f: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        32, 32, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until 32; x <- 0 until 32) img.getRaster.setSample(x, y, 0, f(x, y))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val base: (Int, Int) => Int = (x, y) => (x * 7 + y * 13) % 256
    // near dup: one bright spot at the origin — the aHash grid moves by
    // at most a few marginal bits, the dHash gradient flips at (0,0)
    val near: (Int, Int) => Int = (x, y) => if (x == 0 && y == 0) 64 else base(x, y)
    // unrelated content: far in Hamming, must not pair with the base
    val far: (Int, Int) => Int = (x, y) => (x * 31 + y * 3 + 77) % 256
    val hashes = Seq(1L -> base, 2L -> near, 3L -> far, 4L -> base).map {
      case (id, f) => val (a, d) = Graft.media.phashOf(png(f)); (id, a, d)
    }.toDF("doc_id", "ahash", "dhash")
    val pairs = Graft.media.phashPairs(hashes).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    // exact dup: both distances 0
    assert(pairs.get((1L, 4L)).contains((0L, 0L)), s"$pairs")
    // planted near dup: recalled through the bands, dHash sees the spot
    val nd = pairs.get((1L, 2L))
    assert(nd.nonEmpty && nd.get._1 <= 3L && nd.get._2 >= 1L, s"$pairs")
    // unrelated image pairs with nothing
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L), s"$pairs")
  }

  test("audio fingerprint dedup: exact dup and gain-shifted re-encode pair with the base; unrelated track does not") {
    import spark.implicits._
    // designed envelopes over n=640 samples → exactly 10 samples per
    // fingerprint window; signs alternate so there's no DC bias
    val n = 640
    def track(level: Int => Int): Array[Int] =
      Array.tabulate(n)(i => level(i) * (if (i % 2 == 0) 1 else -1))
    val base = track(i => if (i < n / 2) 8000 else 100)  // loud half, quiet half
    val gain = base.map(_ / 2)                           // gain-shifted copy
    val far = track(i => if ((i / 10) % 2 == 0) 8000 else 100) // alternating windows
    // the REAL round-trip: samples → RIFF container → SPI decode → fp
    def fp(samples: Array[Int]): Long =
      Graft.media.audioFpOf(operators.Multimodal.synthWavOf(samples))
    // gain scaling is uniform across windows (all amps even → energies
    // quarter exactly), so the fingerprint is bit-identical
    assert(fp(base) == fp(gain))
    val fps = Seq(1L -> base, 2L -> base, 3L -> gain, 4L -> far)
      .map { case (id, smp) => (id, fp(smp)) }.toDF("doc_id", "afp")
    val pairs = Graft.media.audioFpPairs(fps).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.get((1L, 2L)).contains(0L), s"$pairs")  // exact dup
    assert(pairs.get((1L, 3L)).exists(_ <= 3L), s"$pairs") // re-encoded near-dup
    // unrelated envelope: no band collides, no pair forms
    assert(!pairs.keySet.exists(p => p._1 == 4L || p._2 == 4L), s"$pairs")
    // the audit twin reports the banding this ran with
    val stats = Graft.media.audioFpBucketStats(fps).collect()
    assert(stats.length == 4 && stats.forall(_.getLong(4) == 0L)) // nothing truncated
  }

  test("m_frame_sample only emits every 4th frame") {
    val df = Multimodal.queries("m_frame_sample")(spark, sf)
    assert(df.filter(col("frame_idx") % 4 =!= 0).count() == 0)
    assert(df.count() > 0)
  }

  test("kcore: triangle+tail peels to the triangle; a path peels to empty") {
    import spark.implicits._
    def undirected(pairs: Seq[(String, String)]) = {
      val e = pairs.toDF("src", "dst")
      e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
    }
    // triangle 1-2-3 with a pendant 4: the 2-core is exactly the triangle
    val g1 = undirected(Seq(("1", "2"), ("2", "3"), ("1", "3"), ("3", "4")))
    val core = Graph.kcore(g1, 2).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(core == Set(("1", 2L), ("2", 2L), ("3", 2L)))
    // path graph: peeling consumes it end-in (multiple rounds), to empty
    val g2 = undirected(Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")))
    assert(Graph.kcore(g2, 2).count() == 0)
  }

  test("kcore: a 40-node path peels to empty (no round cap) and parallel edges don't inflate degree") {
    import spark.implicits._
    // k=2 peeling removes only the two ENDPOINTS per round, so this
    // needs ~20 rounds — a fixed round cap silently returns the
    // residual path as a bogus "core" (review finding r6)
    val path = (0 until 40).map(i => (f"v$i%03d", f"v${i + 1}%03d")).toDF("src", "dst")
    val und = path.unionByName(path.select(col("dst").as("src"), col("src").as("dst")))
    assert(Graph.kcore(und, 2).count() == 0)
    // multigraph: A↔B listed twice is ONE neighbor each, not a 2-core
    val multi = Seq(("a", "b"), ("a", "b")).toDF("src", "dst")
    val undM = multi.unionByName(multi.select(col("dst").as("src"), col("src").as("dst")))
    assert(Graph.kcore(undM, 2).count() == 0)
  }

  test("g_kcore: degree floor holds and the surviving subgraph is undirected-consistent") {
    val out = Graph.queries("g_kcore")(spark, sf)
    // k-core definition half 1: degree >= 3 inside the subgraph
    assert(out.filter(col("core_degree") < 3).count() == 0)
    // surviving degrees count edges of a symmetric subgraph: each
    // undirected edge contributes to exactly two nodes, so the total
    // is even (a prune that kept edges into peeled nodes breaks this)
    val total = out.agg(sum("core_degree")).collect()(0).getLong(0)
    assert(total % 2 == 0, s"odd total core degree $total")
  }


  test("sssp: multi-hop cheap path beats the direct heavy edge; unreached nodes absent") {
    import spark.implicits._
    // a->b costs 5 direct, but a->c->b costs 2; d is disconnected
    val e = Seq(("a", "b", 5L), ("a", "c", 1L), ("c", "b", 1L), ("d", "a", 1L))
      .toDF("src", "dst", "w")
    val out = Graph.sssp(e, Seq("a").toDF("node")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(out == Map("a" -> 0L, "b" -> 2L, "c" -> 1L))
    // duplicate seed rows must not break the one-row-per-node contract
    // (the frontier-delta merge would otherwise carry both rows forever)
    val dup = Graph.sssp(e, Seq("a", "a", "a").toDF("node"))
    assert(dup.count() == 3 && dup.select("node").distinct().count() == 3)
  }

  test("m_image_embed_topk: 10 ranked neighbours, decoded-histogram cosines in (0,1], query absent") {
    val out = Multimodal.queries("m_image_embed_topk")(spark, sf).collect()
    assert(out.length == 10)
    assert(out.forall(r => r.getDouble(1) > 0.0 && r.getDouble(1) <= 1.0),
      out.mkString(","))
    assert(!out.exists(_.getLong(0) == 0L))
    out.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getDouble(1) > b.getDouble(1) ||
          (a.getDouble(1) == b.getDouble(1) && a.getLong(0) < b.getLong(0)))
      case _ => ()
    }
  }

  test("m_patches: grid size matches header dims; edge patches clipped, inner patches full") {
    val out = Multimodal.queries("m_patches")(spark, sf)
    val meta = Multimodal.queries("m_binary_meta")(spark, sf)
      .select(col("doc_id"), col("width"), col("height"))
    val counts = out.groupBy("doc_id").count()
      .join(meta, "doc_id")
      .filter(col("count") =!=
        ceil(col("width") / 16.0).cast("long") * ceil(col("height") / 16.0).cast("long"))
    assert(counts.count() == 0)
    // geometry invariants: offsets inside the image, extents positive and clipped
    assert(out.filter(col("x0") + col("pw") > 16 + 64 || col("pw") < 1 || col("ph") < 1).count() == 0)
    val j = out.join(meta, "doc_id")
    assert(j.filter(col("x0") + col("pw") > col("width")
      || col("y0") + col("ph") > col("height")).count() == 0)
    assert(j.filter(col("is_full") =!= (col("pw") === 16 && col("ph") === 16)).count() == 0)
  }

}
