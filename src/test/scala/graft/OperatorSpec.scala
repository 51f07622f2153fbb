package graft

import graft.operators.AsOf
import graft.functions.{TextFunctions, VectorFunctions}
import graft.plans.VectorExpressions
import graft.sources.MediaPipeline
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class OperatorSpec extends AnyFunSuite {
  import TestSpark.{spark, sfDir}
  import spark.implicits._

  test("as-of join: inclusive, latest-prior, null when no match") {
    val left = Seq((1L, "2024-01-01 10:00:00", 100L),
      (1L, "2024-01-01 12:00:00", 101L),
      (2L, "2024-01-01 09:00:00", 102L))
      .toDF("user_id", "ts", "event_id")
      .withColumn("ts", to_timestamp($"ts"))
    val right = Seq((1L, "2024-01-01 09:30:00"), (1L, "2024-01-01 12:00:00"),
      (3L, "2024-01-01 08:00:00"))
      .toDF("user_id", "ts").withColumn("ts", to_timestamp($"ts"))
    val got = AsOf.asOfTimestamp(left, right, "user_id", "ts", "ts", "matched")
      .select($"event_id", $"matched".cast("string")).as[(Long, String)]
      .collect().toMap
    assert(got(100L) == "2024-01-01 09:30:00") // latest prior
    assert(got(101L) == "2024-01-01 12:00:00") // inclusive at equal ts
    assert(got(102L) == null)                  // no right row for user 2
  }

  test("vec_dot native expression matches decimal-exact HOF within 1e-9") {
    VectorExpressions.register(spark)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(50)
      .select($"vec_id", $"embedding", $"embedding".as("e2"))
    val diff = emb
      .select(abs(expr("vec_dot(embedding, e2)") -
        VectorFunctions.dotExact("embedding", "e2")).as("d"))
      .agg(max($"d")).as[Double].head()
    assert(diff < 1e-9)
  }

  test("vec_dot null/empty behavior") {
    VectorExpressions.register(spark)
    val df = Seq((Seq(1.0f, 2.0f), Seq(3.0f, 4.0f))).toDF("a", "b")
    assert(df.select(expr("vec_dot(a, b)")).as[Double].head() == 11.0)
    val empty = Seq((Seq.empty[Float], Seq.empty[Float])).toDF("a", "b")
    assert(empty.select(expr("vec_dot(a, b)")).as[Double].head() == 0.0)
  }

  test("minhash: identical docs get identical signatures; empty doc → null") {
    val df = Seq("a b c d e f", "a b c d e f", "a b").toDF("text")
      .withColumn("toks", TextFunctions.tokens($"text"))
      .withColumn("sh", TextFunctions.shingles("toks"))
      .withColumn("mh0", TextFunctions.minhash("sh", 0))
    val sigs = df.select($"mh0").as[String].collect()
    assert(sigs(0) == sigs(1) && sigs(0) != null)
    assert(sigs(2) == null) // < 3 tokens → no shingles
  }

  test("minhash_lanes: native kernel matches the SQL formulation lane-for-lane") {
    // Includes multi-shingle docs, a 3-token doc (single shingle), a
    // too-short doc (null signature), and unicode tokens.
    val df = Seq(
      "the quick brown fox jumps over the lazy dog",
      "a b c d e",
      "x y z",
      "too short",
      "naïve café déjà vu résumé encore").toDF("text")
      .withColumn("toks", TextFunctions.tokens($"text"))
      .withColumn("sh", TextFunctions.shingles("toks"))
      .withColumn("mhs", expr("minhash_lanes(sh, 8)"))
    val rows = df.select(
      (0 until 8).map(p => element_at($"mhs", p + 1).as(s"native$p")) ++
        (0 until 8).map(p => TextFunctions.minhash("sh", p).as(s"sql$p")): _*)
      .collect()
    for (r <- rows; p <- 0 until 8)
      assert(r.getAs[String](s"native$p") == r.getAs[String](s"sql$p"),
        s"lane $p mismatch on $r")
    // interpreted eval path agrees with codegen
    val arr = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      Array(org.apache.spark.unsafe.types.UTF8String.fromString("a b c")))
    val viaKernel = graft.plans.MinHashKernel.compute(arr, 2)
    assert(viaKernel.numElements() == 2)
  }

  test("simhash: deterministic and in 32-bit range") {
    val df = Seq("spark sql engine", "spark sql engine", "totally different words here")
      .toDF("text")
      .withColumn("toks", TextFunctions.tokens($"text"))
      .select(TextFunctions.simhash32("toks").as("sh")).as[Long].collect()
    assert(df(0) == df(1))
    assert(df.forall(v => v >= 0 && v < (1L << 32)))
  }

  test("media pipeline: typed mapPartitions path equals expression path") {
    val typed = MediaPipeline.extractFeatures(spark, sfDir)
      .toDF().orderBy($"media_id")
    val expr_ = QueryDef.registry.find(_.name == "m01_media_features").get
      .build(spark, sfDir)
    assert(typed.columns.sorted.sameElements(expr_.columns.sorted))
    val t = typed.select($"media_id", $"byte_len", $"content_md5").collect()
    val e = expr_.select($"media_id", $"byte_len", $"content_md5").collect()
    assert(t.sameElements(e))
  }

  test("m17: brightness shift preserves the temporal-gradient fingerprint through real decode") {
    import MediaPipeline._
    // the invariance claim at the decode level: +d on every channel of
    // every frame moves each frame's luma_x1000 by exactly 1000·d, so
    // consecutive-frame diffs are bit-identical while the bytes differ
    val colors = Seq(0x102030, 0x405060, 0x0a141e, 0x232323)
    def shift(c: Int, d: Int) =
      (((c >> 16) & 0xff) + d << 16) | (((c >> 8) & 0xff) + d << 8) |
        ((c & 0xff) + d)
    val a = sampleFrames(1L, renderGifFrames(24, 16, colors), stride = 1)
    val b = sampleFrames(2L,
      renderGifFrames(24, 16, colors.map(shift(_, 25))), stride = 1)
    assert(a.forall(_.decode_ok) && b.forall(_.decode_ok))
    val la = a.sortBy(_.frame_idx).map(_.luma_x1000)
    val lb = b.sortBy(_.frame_idx).map(_.luma_x1000)
    assert(la != lb, "shifted frames must have different absolute lumas")
    assert(lb.zip(la).forall { case (y, x) => y - x == 25000L },
      s"each frame should move by exactly 1000*25, got ${lb.zip(la)}")
    assert(la.sliding(2).map(p => p(1) - p(0)).toSeq ==
      lb.sliding(2).map(p => p(1) - p(0)).toSeq)
    // the corrupt plant: a dropped leading byte kills the GIF signature
    val corrupt = sampleFrames(3L,
      renderGifFrames(24, 16, colors).drop(1), stride = 1)
    assert(corrupt.forall(!_.decode_ok))
  }

  test("m17 recovers planted brightness-shifted re-encode clusters") {
    val out = QueryDef.registry.find(_.name == "m17_video_perceptual_dedup")
      .get.build(spark, sfDir).collect()
    assert(out.nonEmpty, "sf0.001 plants at least one re-encode pair")
    out.foreach { r =>
      assert(r.getAs[Long]("n_assets") >= 2L)
      // every planted cluster is {original, brighter re-encode}: the
      // spread is exactly 1000·delta with delta = (id % 30) + 10
      val spread = r.getAs[Long]("luma_spread_x1000")
      assert(spread % 1000L == 0L && spread >= 10000L && spread <= 39000L,
        s"spread $spread is not a planted 1000*delta")
    }
  }

  test("decodeImage: real javax.imageio round-trip — solid, gradient, corrupt bytes") {
    import MediaPipeline._
    // solid: closed-form features (the m08 oracle's contract)
    val solid = decodeImage(1L, renderSolidPng(40, 30, 0x336699))
    assert(solid == ImageFeatures(1L, 40, 30, 3,
      299L * 0x33 + 587L * 0x66 + 114L * 0x99, 0L, decode_ok = true),
      s"got $solid")
    // horizontal gradient brightening left→right: every dHash bit set
    val img = new java.awt.image.BufferedImage(
      90, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 90) {
      val v = x * 255 / 89
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    val grad = decodeImage(2L, out.toByteArray)
    assert(grad.decode_ok && grad.width == 90 && grad.height == 16)
    assert(grad.dhash == -1L, // all 64 bits set
      s"gradient should set every difference bit, got ${grad.dhash.toHexString}")
    // a 1-pixel perturbation stays perceptually near: small Hamming
    img.setRGB(0, 0, 0xffffff)
    val out2 = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out2)
    val pert = decodeImage(3L, out2.toByteArray)
    assert(java.lang.Long.bitCount(grad.dhash ^ pert.dhash) <= 2)
    // corrupt bytes: flagged, sentinel features, no exception
    val bad = decodeImage(4L, Array[Byte](1, 2, 3, 4, 5))
    assert(bad == ImageFeatures(4L, -1, -1, 0, -1L, 0L, decode_ok = false))
    // distributed seam: the same decode through mapPartitions on a
    // Dataset of rendered bytes — the m08 plumbing
    val ds = Seq((10L, 20, 10, 0xff0000), (11L, 16, 16, 0x00ff00))
      .toDF("media_id", "w", "h", "rgb")
      .as[(Long, Int, Int, Int)]
      .mapPartitions(_.map { case (id, w, h, rgb) =>
        decodeImage(id, renderSolidPng(w, h, rgb)) })
      .collect().sortBy(_.media_id)
    assert(ds(0).luma_x1000 == 299L * 255 && ds(1).luma_x1000 == 587L * 255)
  }

  test("decodeAudio: real javax.sound round-trip — square wave, edge periods, corrupt bytes") {
    import MediaPipeline._
    // closed-form contract on a 1000-sample square wave, period 7
    val a = decodeAudio(1L, renderSquareWav(1000, 8000, 1234, 7))
    assert(a == AudioFeatures(1L, 1000L, 8000, 1,
      1234L, 1000L * 1234, 1000L * 1234 * 1234, 999L / 7,
      decode_ok = true), s"got $a")
    // period longer than the clip: constant signal, zero crossings
    val const = decodeAudio(2L, renderSquareWav(50, 44100, 32767, 100))
    assert(const.zero_crossings == 0L && const.peak == 32767L)
    // period 1: alternating every sample → n-1 crossings
    val alt = decodeAudio(3L, renderSquareWav(64, 16000, 5, 1))
    assert(alt.zero_crossings == 63L, s"got ${alt.zero_crossings}")
    // corrupt bytes: flagged with sentinels, no exception
    val bad = decodeAudio(4L, Array[Byte](9, 9, 9, 9))
    assert(bad == AudioFeatures(4L, -1L, -1, 0, -1L, -1L, -1L, 0L,
      decode_ok = false))
  }

  test("sampleFrames: real animated-GIF round-trip — stride, frame count, corrupt bytes") {
    import MediaPipeline._
    // 5 frames, stride 2 → frames 0, 2, 4; GIF is lossless for solid
    // colors so each sampled frame's grid luma is its color's exact luma
    val colors = Seq(0xff0000, 0x00ff00, 0x0000ff, 0xffffff, 0x000000)
    val fs = sampleFrames(1L, renderGifFrames(24, 16, colors), stride = 2)
    assert(fs.map(_.frame_idx) == Seq(0, 2, 4), s"got $fs")
    assert(fs.forall(f => f.n_frames == 5 && f.width == 24 && f.height == 16
      && f.decode_ok))
    // sampled frames are red (idx 0), blue (idx 2), black (idx 4)
    assert(fs.map(_.luma_x1000) == Seq(299L * 255, 114L * 255, 0L),
      s"got ${fs.map(_.luma_x1000)}")
    // stride 1 decodes every frame
    assert(sampleFrames(2L, renderGifFrames(16, 16, colors), 1).size == 5)
    // corrupt bytes: one sentinel row, no exception
    val bad = sampleFrames(3L, Array[Byte](7, 7, 7), 2)
    assert(bad == Seq(FrameFeatures(3L, -1, -1, -1, -1, -1L,
      decode_ok = false)))
  }

  test("config-keyed decoder routing: imageio lane equals the closed-form stub lane") {
    import MediaPipeline._
    // default (stub) lane: arithmetic twin, no rendering
    spark.conf.unset(DecoderConf)
    val stubRows = imageFeaturesRouted(spark, sfDir)
      .collect().sortBy(_.media_id)
    assert(stubRows.nonEmpty && stubRows.forall(_.decode_ok))
    // imageio lane: REAL split-PNG render + decode must reproduce the
    // closed form row-for-row — the evidence that a pipeline can flip
    // spark.graft.media.decoder=imageio with no result churn
    spark.conf.set(DecoderConf, "imageio")
    try {
      val realRows = imageFeaturesRouted(spark, sfDir)
        .collect().sortBy(_.media_id)
      assert(realRows.sameElements(stubRows),
        s"lanes diverge, e.g. ${realRows.zip(stubRows).find(p => p._1 != p._2)}")
      // non-solid evidence: both dhash outcomes occur across the corpus
      val hashes = realRows.map(_.dhash).toSet
      assert(hashes.contains(0x1010101010101010L) && hashes.contains(0L),
        s"split fixtures should produce both edge directions, got $hashes")
    } finally spark.conf.unset(DecoderConf)
  }

  test("c02 packing invariants: offsets in [0,256), contiguous per-shard layout") {
    val rows = QueryDef.registry.find(_.name == "c02_sequence_packing").get
      .build(spark, sfDir)
      .select($"source", $"n_toks", $"pack_id", $"pack_offset")
      .as[(String, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall { case (_, _, _, off) => off >= 0 && off < 256 })
    // reconstruct each shard's stream: doc start positions must be the
    // exact running sum of token counts (no gaps, no overlap)
    rows.groupBy(_._1).foreach { case (_, docs) =>
      val sorted = docs.map { case (_, n, p, o) => (p * 256 + o, n) }.sortBy(_._1)
      sorted.zip(sorted.scanLeft(0L)(_ + _._2)).foreach { case ((start, _), expect) =>
        assert(start == expect, "doc start != running token sum")
      }
    }
  }

  test("t15 chunking invariants: full stride coverage, overlap of 16") {
    val rows = QueryDef.registry.find(_.name == "t15_doc_chunking").get
      .build(spark, sfDir)
      .groupBy($"doc_id").agg(count(lit(1)).as("n_chunks"),
        sum($"n_chunk_toks").as("tok_sum"), max($"n_chunk_toks").as("max_c"))
      .join(spark.read.parquet(s"$sfDir/documents.parquet")
        .select($"doc_id", TextFunctions.tokens($"text").as("toks"))
        .select($"doc_id", size($"toks").cast("long").as("n")), "doc_id")
      .as[(Long, Long, Long, Long, Long)].collect()
    rows.foreach { case (id, nChunks, tokSum, maxC, n) =>
      assert(maxC <= 64, s"doc $id chunk too long")
      val expect = 1 + math.max(0, (n - 64 + 47) / 48)
      assert(nChunks == expect, s"doc $id wrong chunk count")
      // chunks overlap by 16 tokens per extra chunk except a short tail
      assert(tokSum >= n, s"doc $id tokens dropped by chunking")
    }
  }

  test("d12 normalization collapses every planted variant class") {
    val df = QueryDef.registry.find(_.name == "d12_url_dedup").get
      .build(spark, sfDir)
    val canon = df.select($"canonical_url").as[String].collect()
    assert(canon.forall(u => u == u.toLowerCase), "host case survived")
    assert(canon.forall(u => !u.contains("?")), "query string survived")
    assert(canon.forall(u => !u.endsWith("/")), "trailing slash survived")
    // 7 hosts × 50 paths, all planted from doc_id arithmetic
    assert(canon.length == 350)
  }

  test("nfc_normalize: composes decomposed text, identity on NFC input, null-safe") {
    // decomposed e + U+0301 composes to é; ligature ﬁ is NFKC, untouched
    val df = Seq("Café", "Café", "Å ﬁt", null)
      .toDF("s").select(expr("nfc_normalize(s)").as("n"))
    val got = df.as[String].collect()
    assert(got(0) == "Café")
    assert(got(1) == "Café") // already NFC: unchanged (fast path)
    assert(got(2) == "Å ﬁt") // Å composes; NFKC ligature survives
    assert(got(3) == null)
    // interpreted eval agrees with the codegen path
    import graft.plans.NfcNormalize
    import org.apache.spark.sql.catalyst.expressions.Literal
    val e = NfcNormalize(Literal("Café"))
    assert(e.eval(null).toString == "Café")
  }

  test("d13 incremental dedup: exact+near copies match, fresh docs don't") {
    val df = QueryDef.registry.find(_.name == "d13_incremental_dedup").get
      .build(spark, sfDir)
    val rows = df.select($"new_id", $"is_dup").as[(Long, Boolean)].collect()
    val (fresh, copies) = rows.partition(_._1 >= 3000000L)
    assert(copies.nonEmpty && copies.forall(_._2), "a planted copy was missed")
    assert(fresh.nonEmpty && !fresh.exists(_._2), "reversed text matched the corpus")
  }

  test("d14 paragraph dedup: exact copies lose every paragraph, originals keep all") {
    val df = QueryDef.registry.find(_.name == "d14_paragraph_dedup").get
      .build(spark, sfDir)
    val rows = df.select($"doc_id", $"n_paras", $"n_dropped")
      .as[(Long, Long, Long)].collect()
    // exact copies (+1000000) sort after their originals, so every one of
    // their paragraphs already occurred → all dropped
    val copies = rows.filter(r => r._1 >= 1000000L && r._1 < 2000000L)
    assert(copies.nonEmpty && copies.forall(r => r._2 == r._3))
    // an original doc whose id precedes all planted copies keeps all its
    // paragraphs unless it shares one with an earlier original
    assert(rows.filter(_._1 < 1000000L).exists(r => r._3 == 0))
  }

  test("d15 containment: every long-enough planted fragment pairs with its source at 1.0") {
    val df = QueryDef.registry.find(_.name == "d15_containment_pairs").get
      .build(spark, sfDir)
    val pairs = df.select($"inner_id", $"outer_id", $"containment")
      .as[(Long, Long, Double)].collect()
    val fragToSource = pairs.filter(p => p._1 >= 4000000L && p._2 == p._1 - 4000000L)
    assert(fragToSource.nonEmpty && fragToSource.forall(_._3 == 1.0))
    // symmetric-Jaccard d05 must NOT see these pairs (that's the point)
    val d05 = QueryDef.registry.find(_.name == "d05_ngram_jaccard_pairs").get
      .build(spark, sfDir).select($"doc_a").as[Long].collect().toSet
    assert(!d05.exists(_ >= 4000000L))
  }

  test("c03 shards are balanced and cover every document exactly once") {
    val df = QueryDef.registry.find(_.name == "c03_shard_export").get
      .build(spark, sfDir)
    val rows = df.select($"shard_id", $"n_docs").as[(Long, Long)].collect()
    assert(rows.map(_._1).sorted.sameElements(0L until 8L))
    val total = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(rows.map(_._2).sum == total)
    // md5 assignment spreads uniformly: no shard more than 2× the mean
    val mean = total.toDouble / 8
    assert(rows.forall(r => r._2 < 2 * mean && r._2 > mean / 2))
  }

  test("d16 semantic dedup: every planted scaled copy is dropped, kept by its original") {
    val df = QueryDef.registry.find(_.name == "d16_semantic_dedup").get
      .build(spark, sfDir)
    val rows = df.select($"dropped_id", $"kept_id").as[(Long, Long)].collect()
    val planted = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter($"vec_id" % 25 === 0).select($"vec_id").as[Long].collect().toSet
    // spherical assignment co-clusters each ×2 copy with its original, so
    // all planted copies must be found and resolved to the original
    val copies = rows.filter(_._1 >= 1000000L).map(r => (r._1 - 1000000L, r._2)).toMap
    assert(planted.forall(v => copies.get(v).contains(v)),
      s"missing/mis-kept copies: ${planted.filterNot(v => copies.get(v).contains(v))}")
  }

  test("d17 survivors: longest doc wins its cluster, ties to smallest id") {
    val df = QueryDef.registry.find(_.name == "d17_quality_survivors").get
      .build(spark, sfDir)
    val got = df.select($"canon", $"survivor_id", $"survivor_toks")
      .as[(Long, Long, Long)].collect()
    // recompute the argmax independently: labels × token counts
    val labels = operators.DedupQueries.clusterLabels(spark, sfDir)
    val toks = operators.DedupQueries.corpus(spark, sfDir)
      .select($"doc_id", size(functions.TextFunctions.tokens($"text")).cast("long").as("n"))
    val byCluster = labels.join(toks, "doc_id")
      .select($"canon", $"doc_id", $"n").as[(Long, Long, Long)].collect()
      .groupBy(_._1)
    assert(got.nonEmpty && got.length == byCluster.size)
    got.foreach { case (canon, sid, stoks) =>
      val members = byCluster(canon)
      val best = members.minBy(m => (-m._3, m._2))
      assert(sid == best._2 && stoks == best._3, s"cluster $canon: got $sid, want $best")
    }
  }

  test("s11 kNN join: 3 ranked neighbors per query, cosine non-increasing") {
    val df = QueryDef.registry.find(_.name == "s11_knn_join").get
      .build(spark, sfDir)
    val rows = df.select($"qid", $"knn_rank", $"cosine")
      .as[(Long, Long, Double)].collect()
    assert(rows.length == 12) // 4 queries × top-3
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val byRank = rs.sortBy(_._2)
      assert(byRank.map(_._2).sameElements(Array(1L, 2L, 3L)))
      assert(byRank.sliding(2).forall(p => p(0)._3 >= p(1)._3))
    }
  }

  test("t18 LM score: bigram counts line up with token counts, scores negative") {
    val df = QueryDef.registry.find(_.name == "t18_bigram_lm_score").get
      .build(spark, sfDir)
    val got = df.select($"doc_id", $"n_bigrams", $"avg_logp")
      .as[(Long, Long, Option[Double])].collect()
    val nToks = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", size(functions.TextFunctions.tokens($"text")).cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(got.length == nToks.size)
    got.foreach { case (id, nb, lp) =>
      assert(nb == math.max(0L, nToks(id) - 1), s"doc $id bigram count")
      // a probability < 1 must log negative; smoothing keeps it finite
      assert(lp.forall(v => v < 0 && !v.isNaN && !v.isInfinite), s"doc $id score $lp")
    }
  }

  test("q62 sequence count matches a reference fold over sorted events") {
    val df = QueryDef.registry.find(_.name == "q62_sequence_count").get
      .build(spark, sfDir)
    val got = df.select($"user_id", $"n_matches").as[(Long, Long)].collect().toMap
    val evs = Tables.events(spark, sfDir)
      .select($"user_id", $"ts".cast("long"), $"event_id", $"event_type")
      .as[(Long, Long, Long, String)].collect()
    val want = evs.groupBy(_._1).map { case (u, rows) =>
      var stage = 0; var n = 0L
      rows.sortBy(r => (r._2, r._3)).foreach { r =>
        (r._4, stage) match {
          case ("view", 0) => stage = 1
          case ("click", 1) => stage = 2
          case ("purchase", 2) => stage = 0; n += 1
          case _ =>
        }
      }
      u -> n
    }
    assert(got == want)
    assert(got.values.sum > 0) // the pattern actually occurs in the data
  }

  test("q63 range frame matches a reference trailing-1h recompute") {
    val df = QueryDef.registry.find(_.name == "q63_interval_range_window").get
      .build(spark, sfDir)
    val got = df.select($"event_id", $"n_1h").as[(Long, Long)].collect().toMap
    val evs = Tables.events(spark, sfDir)
      .select($"user_id", expr("unix_micros(ts)"), $"event_id")
      .as[(Long, Long, Long)].collect()
    evs.groupBy(_._1).foreach { case (_, rows) =>
      rows.foreach { r =>
        val want = rows.count(o => o._2 >= r._2 - 3600000000L && o._2 <= r._2)
        assert(got(r._3) == want, s"event ${r._3}")
      }
    }
  }

  test("c05 temperature weights renormalize and flatten the share ratio") {
    val df = QueryDef.registry.find(_.name == "c05_temperature_mixture").get
      .build(spark, sfDir)
    val rows = df.select($"source", $"share", $"weight")
      .as[(String, Double, Double)].collect()
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-4)
    assert(math.abs(rows.map(_._2).sum - 1.0) < 1e-4)
    val hi = rows.maxBy(_._2); val lo = rows.minBy(_._2)
    // α = 0.7 < 1 flattens: head/tail weight ratio must be SMALLER than
    // the share ratio, and the log-ratio recovers the exact exponent
    assert(hi._2 > lo._2)
    assert(hi._3 / lo._3 < hi._2 / lo._2)
    val gotExp = math.log(hi._3 / lo._3) / math.log(hi._2 / lo._2)
    assert(math.abs(gotExp - 0.7) < 0.01, s"exponent $gotExp")
  }

  test("s12 LSH batch retrieval: per-query ranks valid, hits are real s11 neighbors") {
    val lsh = QueryDef.registry.find(_.name == "s12_lsh_batch_retrieval").get
      .build(spark, sfDir)
      .select($"qid", $"vec_id", $"lsh_rank").as[(Long, Long, Long)].collect()
    val exact = QueryDef.registry.find(_.name == "s11_knn_join").get
      .build(spark, sfDir)
      .select($"qid", $"vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(lsh.nonEmpty)
    lsh.groupBy(_._1).foreach { case (_, rs) =>
      val ranks = rs.map(_._3).sorted
      assert(ranks.sameElements(1L to ranks.length)) // dense 1..n per query
    }
    // at the 4×4-bit recall knob the LSH top-1 should usually be the
    // exact top-3's member; require at least one query to agree so the
    // two paths are provably probing the same space
    val top1 = lsh.filter(_._3 == 1L)
    assert(top1.exists(r => exact(r._1).contains(r._2)))
  }

  test("q62 fold equals a reference state machine on 200 random sequences") {
    val rnd = new scala.util.Random(42)
    val alphabet = Array("view", "click", "purchase", "error", "signup")
    val seqs = (0 until 200).map { i =>
      (i.toLong, Seq.fill(rnd.nextInt(30))(alphabet(rnd.nextInt(alphabet.length))))
    }
    def ref(ts: Seq[String]): Long = {
      var stage = 0; var n = 0L
      ts.foreach {
        case "view" if stage == 0 => stage = 1
        case "click" if stage == 1 => stage = 2
        case "purchase" if stage == 2 => stage = 0; n += 1
        case _ =>
      }
      n
    }
    val got = seqs.toDF("id", "types")
      .select($"id", operators.ExtendedQueries.sequenceCountCol("types").as("n"))
      .as[(Long, Long)].collect().toMap
    seqs.foreach { case (id, ts) =>
      assert(got(id) == ref(ts), s"sequence $id: ${ts.mkString(",")}")
    }
  }

  test("q86 gap DP equals brute-force subsequence search on 200 random sequences") {
    val rnd = new scala.util.Random(86)
    val alphabet = Array("view", "click", "purchase", "error", "signup")
    val gap = 3600000000L // 1h in micros
    // ts increments 0..5000 s: some inter-event gaps exceed the 1h
    // constraint, some equal-ts pairs exercise the tie path
    val seqs = (0 until 200).map { i =>
      var t = 1700000000000000L
      val evs = (0 until rnd.nextInt(25)).map { j =>
        t += rnd.nextInt(5001).toLong * 1000000L *
          (if (rnd.nextInt(10) == 0) 0L else 1L)
        (t, (i * 1000 + j).toLong, alphabet(rnd.nextInt(alphabet.length)))
      }
      (i.toLong, evs)
    }
    // brute force: largest k with an index-ordered subsequence
    // view(<=gap)click(<=gap)purchase through stage k
    def ref(evs: Seq[(Long, Long, String)]): Int = {
      val n = evs.length
      var best = 0
      for (i <- 0 until n if evs(i)._3 == "view") {
        best = best.max(1)
        for (j <- i + 1 until n
             if evs(j)._3 == "click" && evs(j)._1 - evs(i)._1 <= gap) {
          best = best.max(2)
          for (k <- j + 1 until n
               if evs(k)._3 == "purchase" && evs(k)._1 - evs(j)._1 <= gap)
            best = best.max(3)
        }
      }
      best
    }
    val got = seqs.toDF("id", "raw")
      .withColumn("evs", expr(
        """transform(raw, e -> named_struct(
             'ts', timestamp_micros(e._1), 'event_id', e._2,
             'event_type', e._3))"""))
      .withColumn("st", operators.ExtendedQueries.gapDpCol("evs", gap))
      .select($"id", expr(
        """CASE WHEN st.l3 >= 0 THEN 3 WHEN st.l2 >= 0 THEN 2
                WHEN st.l1 >= 0 THEN 1 ELSE 0 END""").as("stage"))
      .as[(Long, Int)].collect().toMap
    seqs.foreach { case (id, evs) =>
      assert(got(id) == ref(evs), s"seq $id: ${evs.mkString(",")}")
    }
  }

  test("q100 next-node scan equals the reference first-adjacent-match walk") {
    val rnd = new scala.util.Random(100)
    val alphabet = Array("view", "click", "purchase", "error", "signup")
    // 200 random type sequences + the 4 structural edges: no match,
    // match at position 1, match ending the timeline (no successor),
    // multiple matches (FIRST must win)
    val seqs = (0 until 200).map { i =>
      (i.toLong, Seq.fill(rnd.nextInt(15))(alphabet(rnd.nextInt(5))))
    } ++ Seq(
      (1000L, Seq("click", "view", "purchase")),       // never adjacent
      (1001L, Seq("view", "click", "error")),          // match at 1
      (1002L, Seq("signup", "view", "click")),         // chain ends timeline
      (1003L, Seq("view", "click", "error", "view", "click", "signup")))
    def ref(types: Seq[String]): (Boolean, String) = {
      val i = types.indices.dropRight(1)
        .find(i => types(i) == "view" && types(i + 1) == "click")
      (i.isDefined,
        i.filter(_ + 2 < types.length).map(j => types(j + 2)).getOrElse("(none)"))
    }
    val got = seqs.toDF("id", "types")
      .withColumn("idx", expr(
        """CASE WHEN size(types) >= 2 THEN
             array_min(filter(sequence(1, size(types) - 1),
               i -> element_at(types, i) = 'view'
                    AND element_at(types, CAST(i + 1 AS INT)) = 'click'))
           END"""))
      .select($"id", $"idx".isNotNull,
        expr("""coalesce(CASE WHEN idx IS NOT NULL AND idx + 2 <= size(types)
                          THEN element_at(types, CAST(idx + 2 AS INT)) END,
                         '(none)')"""))
      .as[(Long, Boolean, String)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    seqs.foreach { case (id, types) =>
      assert(got(id) == ref(types), s"seq $id: ${types.mkString(",")}")
    }
  }

  test("t34 byte BPE: trainer learns byte merges; encode-decode is identity on arbitrary unicode") {
    import graft.functions.TextFunctions
    // hand fixture: "aaab" x2 + "cd" over bytes — (61,61) count 4 wins,
    // then the (61,62)/(6161,61) tie at 2 breaks to the lex-smaller
    // left, then the merged pair (6161,6162) closes
    val m = TextFunctions.byteBpeTrain(
      Seq("aaab", "aaab", "cd").toDF("text"), "text", 3, batchSize = 1)
    assert(m == Seq(("61", "61", 4L), ("61", "62", 2L),
      ("6161", "6162", 2L)), m.toString)
    // byte fallback / no-UNK: encode∘decode = id on arbitrary unicode —
    // 1- to 4-byte UTF-8 (ASCII, é/ñ, €, CJK, an astral emoji), with
    // merges TRAINED on the same words so multi-byte merges exist
    val cps = Seq(0x61, 0x62, 0x7A, 0xE9, 0xF1, 0x20AC, 0x65E5, 0x672C, 0x1F600)
    val rnd = new scala.util.Random(34)
    val words = (0 until 100).map { _ =>
      (0 until 1 + rnd.nextInt(8))
        .map(_ => new String(Character.toChars(cps(rnd.nextInt(cps.length)))))
        .mkString
    }
    val merges = TextFunctions.byteBpeTrain(
      words.toDF("text"), "text", 8, batchSize = 1)
    assert(merges.nonEmpty)
    val enc = TextFunctions.byteBpeEncodeSymExpr(
      merges.map { case (a, b, _) => (a, b) })
    val got = words.toDF("w")
      .withColumn("hx", expr("hex(encode(w, 'UTF-8'))"))
      .withColumn("e", expr(enc))
      .select($"w", expr("decode(unhex(replace(e, chr(1), '')), 'UTF-8')"))
      .as[(String, String)].collect()
    got.foreach { case (w, r) =>
      assert(w == r, s"round trip broke: '$w' -> '$r'")
    }
  }

  test("m24 WARC walk: hand-built archives cover clean/corrupt/truncated/unclosed-header edges") {
    import graft.sources.MediaPipeline
    def rec(t: String, u: String, p: String) =
      MediaPipeline.renderWarcRecord(t, u, p)
    val clean2 = rec("response", "http://a/0", "<p>hello</p>") +
      rec("metadata", "http://a/1", "meta x")
    val cases = Seq(
      // (id, archive, nrec, nresp, pbytes, furi, status)
      (1L, rec("response", "http://one", "xyz"), 1L, 1L, 3L, "http://one", "end"),
      (2L, clean2, 2L, 1L, 18L, "http://a/0", "end"),
      (3L, clean2.substring(1), -1L, -1L, -1L, "?", "corrupt"),
      // payload+trailer overruns EOF: first record survives, second reports truncated
      (4L, clean2.dropRight(3), 1L, 1L, 12L, "http://a/0", "truncated"),
      // header never closes (no blank line before EOF)
      (5L, "WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 3\r\n", 0L, 0L, 0L, "?", "truncated"),
      // garbage between records fails the magic mid-walk; a framing
      // failure invalidates the whole archive (earlier record bounds
      // can no longer be trusted without a resync scan) — the m23
      // corrupt-sentinel convention, unlike 'truncated' which keeps
      // provably complete records
      (6L, rec("response", "http://g/0", "ab") + "JUNK", -1L, -1L, -1L, "?", "corrupt"))
    val got = cases.map(c => (c._1, c._2)).toDF("id", "warc")
      .withColumn("w", expr(MediaPipeline.warcWalkExpr("warc", 4)))
      .select($"id", $"w.nrec", $"w.nresp", $"w.pbytes", $"w.furi", $"w.status")
      .as[(Long, Long, Long, Long, String, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    cases.foreach { case (id, _, nr, nre, pb, fu, st) =>
      assert(got(id) == ((nr, nre, pb, fu, st)), s"case $id: ${got(id)}")
    }
    // body capture: the first RESPONSE payload, metadata skipped
    val body = Seq((1L, rec("metadata", "m", "skipme") +
        rec("response", "r", "<p>keep</p>"))).toDF("id", "warc")
      .select(expr(MediaPipeline.warcWalkExpr("warc", 3) + ".body"))
      .as[String].head()
    assert(body == "<p>keep</p>", s"body capture: '$body'")
  }

  test("t33 logisticTrainMicro matches the hand-replayed two-epoch update") {
    import graft.functions.TextFunctions
    // 4 rows, 2 features (bias + one separating feature)
    val rows = Seq((1.0, 1.0, 0.2), (1.0, 1.0, 0.4), (0.0, 1.0, 2.4),
      (0.0, 1.0, 3.0))
    val feats = rows.toDF("y", "f0", "f1")
    def sig(z: Double) = 0.5 + z / (2.0 * (1.0 + math.abs(z)))
    // the exact update rule: floored integer terms, truncating division
    val w = Array(0L, 0L)
    for (_ <- 1 to 2) {
      val g = Array(0L, 0L)
      rows.foreach { case (y, f0, f1) =>
        val z = (w(0) * 1.0 * f0 + w(1) * 1.0 * f1) / 1000000.0
        val p = sig(z)
        g(0) += math.floor((p - y) * f0 * 1000000.0).toLong
        g(1) += math.floor((p - y) * f1 * 1000000.0).toLong
      }
      for (j <- 0 to 1) w(j) -= (4L * g(j)) / rows.length
    }
    val got = TextFunctions.logisticTrainMicro(feats, 2, epochs = 2, lrNum = 4L)
    assert(got.toSeq == w.toSeq, s"got ${got.toSeq}, want ${w.toSeq}")
  }

  test("t33 training demonstrably learns: cold start fails the planted class, trained agrees 100%") {
    import graft.functions.TextFunctions
    val feats = operators.TextQueries.qualityTrainFeats(spark, sfDir)
      .localCheckpoint()
    val n = feats.count()
    // cold start (w = 0): z = 0 ⇒ everything predicted positive ⇒
    // exactly the planted third misclassified
    val coldAcc = feats.filter($"y" === 1.0).count().toDouble / n
    assert(coldAcc < 0.7, s"plant missing: cold-start accuracy $coldAcc")
    val w = TextFunctions.logisticTrainMicro(feats, 4, epochs = 4, lrNum = 4L)
    val zF = TextFunctions.zMicroSql(w.map(_.toString).toSeq,
      Seq("f0", "f1", "f2", "f3"))
    val agree = feats
      .filter((expr(s"CAST(floor(($zF) * 1000000.0) AS BIGINT)") >= 0)
        === ($"y" === 1.0)).count()
    assert(agree == n, s"trained model disagrees with the gate on ${n - agree} of $n")
    // the learned boundary is the punct weight, not a distractor
    assert(w(1) < 0, s"punct weight not negative: ${w.toSeq}")
  }

  test("q87 EMA fold is bit-identical to the Scala reference recurrence") {
    val rnd = new scala.util.Random(87)
    val seqs = (0 until 200).map { i =>
      val evs = (0 until 1 + rnd.nextInt(20)).map { j =>
        (1700000000000000L + j * 1000000L, (i * 100 + j).toLong,
          math.floor(rnd.nextDouble() * 2000 - 1000) / 10.0)
      }
      (i.toLong, evs)
    }
    def ref(xs: Seq[Double]): Long = {
      var e = xs.head
      xs.tail.foreach(x => e = 0.25 * x + 0.75 * e)
      math.floor(e * 1000000.0).toLong
    }
    val got = seqs.toDF("id", "raw")
      .withColumn("evs", expr(
        """transform(raw, e -> named_struct(
             'ts', timestamp_micros(e._1), 'event_id', e._2,
             'value', e._3))"""))
      .select($"id", operators.ExtendedQueries.emaMicrosCol("evs").as("m"))
      .as[(Long, Long)].collect().toMap
    seqs.foreach { case (id, evs) =>
      assert(got(id) == ref(evs.map(_._3)), s"seq $id: ${evs.mkString(",")}")
    }
  }

  test("q88 Welch formulas reproduce a hand-computed t and df on planted moments") {
    // arm a: cents {100, 200, 300} → n=3, s1=600, s2=140000
    // arm b: cents {100, 100, 400, 400} → n=4, s1=1000, s2=340000
    val xa = Seq(100.0, 200.0, 300.0)
    val xb = Seq(100.0, 100.0, 400.0, 400.0)
    def mom(x: Seq[Double]) = (x.length.toLong,
      x.sum.toLong, x.map(v => v * v).sum.toLong)
    val ((na, s1a, s2a), (nb, s1b, s2b)) = (mom(xa), mom(xb))
    def se2(n: Long, s1: Long, s2: Long) =
      (s2.toDouble - s1.toDouble * s1.toDouble / n.toDouble) /
        (n - 1).toDouble / n.toDouble
    val (va, vb) = (se2(na, s1a, s2a), se2(nb, s1b, s2b))
    val expT = math.floor((s1a.toDouble / na - s1b.toDouble / nb) /
      math.sqrt(va + vb) * 1e6).toLong
    val expDf = math.floor((va + vb) * (va + vb) /
      (va * va / (na - 1) + vb * vb / (nb - 1)) * 1e3).toLong
    val got = Seq((na, s1a, s2a, nb, s1b, s2b))
      .toDF("n_a", "s1_a", "s2_a", "n_b", "s1_b", "s2_b")
      .selectExpr(
        s"${operators.ExtendedQueries.welchTx1e6} AS t",
        s"${operators.ExtendedQueries.welchDfx1e3} AS df")
      .as[(Long, Long)].head()
    assert(got == ((expT, expDf)), s"got $got expected ($expT, $expDf)")
    assert(expDf >= 2000 && expDf < 6000, "df must land between min(n)-1 and n_a+n_b-2")
  }

  test("c06 export fingerprints are valid JSON lines and cover every doc") {
    val df = QueryDef.registry.find(_.name == "c06_jsonl_export").get
      .build(spark, sfDir)
    val rows = df.select($"shard_id", $"n_lines", $"n_bytes")
      .as[(Long, Long, Long)].collect()
    val total = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(rows.map(_._2).sum == total)
    assert(rows.forall(r => r._3 > r._2)) // bytes > lines (non-empty lines)
    // a sample line round-trips through Spark's own JSON parser
    val line = spark.read.parquet(s"$sfDir/documents.parquet").limit(1)
      .select(concat(lit("{\"id\":"), $"doc_id",
        lit(",\"source\":\""), $"source",
        lit("\",\"text\":\""), $"text", lit("\"}")).as("l"))
      .select(from_json($"l",
        org.apache.spark.sql.types.DataType.fromDDL(
          "struct<id:bigint,source:string,text:string>")).as("j"), $"l")
      .select($"j.id", $"j.text").as[(Long, String)].head()
    assert(line._2 != null && line._2.nonEmpty)
  }

  test("bpeTrain learns the classic merges on the Sennrich example corpus") {
    // low×5, lower×2, newest×6, widest×3 — hand-derived pair counts give
    // merges: (e,s,9) [ties (e,s)/(s,t) at 9, left-asc wins], then
    // (es,t,9), then (l,o,7) [ties (l,o)/(o,w) at 7]
    val words = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    val docs = Seq(words.mkString(" ")).toDF("text")
    val merges = TextFunctions.bpeTrain(docs, "text", 3)
    assert(merges == Seq(("e", "s", 9L), ("es", "t", 9L), ("l", "o", 7L)),
      s"got $merges")
    // determinism: a second run learns the identical table
    assert(TextFunctions.bpeTrain(docs, "text", 3) == merges)
    // repeated-letter safety: greedy non-overlapping merge on "aaaa"
    // counts (a,a)=3 occurrences but merges only twice per word
    val rep = TextFunctions.bpeTrain(Seq("aaaa aaaa").toDF("text"), "text", 2)
    assert(rep.head == ("a", "a", 6L), s"got $rep")
    assert(rep(1) == ("aa", "aa", 2L), s"got $rep")
    // SQL-metacharacter symbols: backslashes and quotes are escaped when
    // spliced into the merge lambda — an unescaped \ would swallow the
    // literal's closing quote and corrupt or crash the round
    val meta = TextFunctions.bpeTrain(
      Seq("""a\b a\b a\b c'd c'd""").toDF("text"), "text", 2)
    // (a,\) and (\,b) tie at 3; left-asc tiebreak: "\" (0x5C) < "a"
    assert(meta.head == ("\\", "b", 3L), s"got $meta")
    assert(meta(1) == ("a", "\\b", 3L), s"got $meta")
  }

  test("bpeTrain batches independent merges: rounds << nMerges, sequential answer") {
    // 8 disjoint-alphabet words with strictly decreasing frequencies:
    // every round's top pairs share no symbols, so the batch rule can
    // accept many per distributed pass. Distinct counts keep the
    // expected sequential order unambiguous.
    val words = Seq("ab", "cd", "ef", "gh", "ij", "kl", "mn", "op")
    val corpus = words.zipWithIndex
      .flatMap { case (w, i) => Seq.fill(100 - 10 * i)(w) }
    val docs = Seq(corpus.mkString(" ")).toDF("text")
    val (merges, rounds) =
      TextFunctions.bpeTrainWithStats(docs, "text", 8, batchSize = 8)
    // the answer is the sequential one: one merge per word, count order
    assert(merges == words.zipWithIndex.map { case (w, i) =>
      (w(0).toString, w(1).toString, (100 - 10 * i).toLong) },
      s"got $merges")
    // ...but learned in far fewer distributed rounds than merges
    assert(rounds <= 2, s"8 independent merges should batch, used $rounds rounds")

    // batchSize=1 degrades to the sequential algorithm exactly
    val (seq1, rounds1) =
      TextFunctions.bpeTrainWithStats(docs, "text", 8, batchSize = 1)
    assert(seq1 == merges && rounds1 == 8)

    // sequential-equivalence property: on interaction-dense random
    // corpora (small alphabet → heavy pair interaction, repeated-letter
    // runs, merge-output/symbol collisions), the batched trainer must
    // produce EXACTLY the sequential merge table. batchSize=1 is the
    // original algorithm, so it is the ground truth.
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val words = Seq.fill(24)(
        (1 to (1 + rnd.nextInt(5))).map(_ => "abcd" (rnd.nextInt(4))).mkString)
      val corpus = words.flatMap(w => Seq.fill(1 + rnd.nextInt(12))(w))
      val tdocs = Seq(corpus.mkString(" ")).toDF("text")
      val (batched, br) =
        TextFunctions.bpeTrainWithStats(tdocs, "text", 10, batchSize = 8)
      val (sequential, _) =
        TextFunctions.bpeTrainWithStats(tdocs, "text", 10, batchSize = 1)
      assert(batched == sequential,
        s"trial $trial diverged:\n batched=$batched\n sequential=$sequential")
      assert(br <= sequential.size,
        s"trial $trial: batching used MORE rounds ($br) than merges")
    }
  }

  test("bpeTrain tie at a batch boundary: spawned pair outranks a tied candidate") {
    // Adversarial construction for the strict-decrease acceptance rule:
    //   "azy"×5 → pairs (a,z)=10 with "az"×5 added, (z,y)=5
    //   "az"×5  → +5 to (a,z)
    //   "cc"×5  → (c,c)=5
    // Sequential: merge 1 = (a,z,10). Applying it rewrites every "azy" to
    // ["az","y"], SPAWNING ("az","y")=5 and erasing (z,y). ("az","y") ties
    // ("c","c") at 5 and "az" < "c", so sequential merge 2 = (az,y,5) and
    // merge 3 = (c,c,5). A batcher that accepts (c,c) in round 1 diverges:
    // the tie's source (z,y) sorts AFTER (c,c) ("z" > "c"), so it is not
    // yet marked interacting when (c,c) is scanned — only the
    // strict-decrease bound (candidate count must exceed the NEXT row's)
    // rejects it. The random small-alphabet property test cannot build
    // this shape (it needs a multi-char left symbol sorting before a
    // single-char one at an exact count tie).
    val corpus = (Seq.fill(5)("azy") ++ Seq.fill(5)("az") ++
      Seq.fill(5)("cc")).mkString(" ")
    val docs = Seq(corpus).toDF("text")
    val (batched, _) =
      TextFunctions.bpeTrainWithStats(docs, "text", 3, batchSize = 8)
    val (sequential, _) =
      TextFunctions.bpeTrainWithStats(docs, "text", 3, batchSize = 1)
    assert(sequential == Seq(("a", "z", 10L), ("az", "y", 5L), ("c", "c", 5L)),
      s"sequential ground truth changed: $sequential")
    assert(batched == sequential,
      s"batched diverged:\n batched=$batched\n sequential=$sequential")
  }

  test("d19 persisted-index path equals d13 recompute path row-for-row") {
    val recompute = QueryDef.registry.find(_.name == "d13_incremental_dedup").get
      .build(spark, sfDir).collect()
    val indexed = QueryDef.registry.find(_.name == "d19_index_backed_dedup").get
      .build(spark, sfDir).collect()
    assert(recompute.sameElements(indexed),
      "stored-index dedup diverged from the recompute path")
  }

  test("d21 substring windows: planted copies are fully duplicated spans") {
    val rows = QueryDef.registry.find(_.name == "d21_substring_window_dedup").get
      .build(spark, sfDir)
      .select($"doc_id", $"n_windows", $"n_dup_windows", $"dup_bp")
      .as[(Long, Long, Long, Long)].collect()
    // every +1M exact copy and +2M first-token-dropped copy is a strict
    // substring of its original, so ALL its windows are duplicated
    val copies = rows.filter(r => r._1 >= 1000000L && r._2 > 0)
    assert(copies.nonEmpty)
    copies.foreach { case (id, _, _, bp) =>
      assert(bp == 10000L, s"planted copy $id not fully duplicated: $bp bp")
    }
    // an original that spawned a near-copy keeps at most its FIRST
    // window unique (the one needing the dropped token)
    rows.filter(r => r._1 < 1000000L && r._1 % 10 == 1 && r._2 >= 2)
      .foreach { case (id, n, nd, _) =>
        assert(nd >= n - 1, s"original $id: only $nd of $n windows dup")
      }
  }

  test("d22 intra-doc windows: self-concatenated docs repeat ~half their spans") {
    val rows = QueryDef.registry.find(_.name == "d22_intra_doc_dedup").get
      .build(spark, sfDir)
      .select($"doc_id", $"n_windows", $"n_dup_windows", $"intra_bp")
      .as[(Long, Long, Long, Long)].collect()
    // a planted text⧺text doc of n base tokens has 2n-7 windows of which
    // n-7 of the first copy recur in the second — dup count is EXACTLY
    // the base window count (n - 7), i.e. strictly > 1/3 of all windows
    val planted = rows.filter(r => r._1 >= 3000000L && r._2 >= 16)
    assert(planted.nonEmpty, "no planted self-concatenated docs")
    planted.foreach { case (id, n, nd, bp) =>
      val baseToks = (n + 7 + 1) / 2 // n = 2b - 7
      assert(nd >= baseToks - 7, s"doc $id: $nd dup of $n windows")
      // the derived floor (b-7)*10000/(2b-7) — approaches 5000 bp for
      // long docs, degrades gracefully for short ones
      assert(bp >= (baseToks - 7) * 10000L / n,
        s"doc $id: self-concat dup fraction only $bp bp")
    }
    // word-soup originals repeat windows only by vocabulary collision
    val originals = rows.filter(r => r._1 < 3000000L && r._2 > 0)
    assert(originals.nonEmpty)
    assert(originals.count(_._4 == 0) > originals.length / 2,
      "originals unexpectedly self-repetitive at 8-token span width")
  }

  test("d29 substring spans: planted copies fully removed, canonicals keep spans") {
    val rows = QueryDef.registry.find(_.name == "d29_substring_spans").get
      .build(spark, sfDir)
      .select($"doc_id", $"n_spans", $"removed_tokens", $"n_tokens")
      .as[(Long, Long, Long, Long)].collect()
    val byId = rows.map(r => r._1 -> r).toMap
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", size(TextFunctions.tokens($"text")).as("n"))
      .as[(Long, Int)].collect().toMap
    // every exact copy (+1e6) of a >=8-token base doc is FULLY removed:
    // all its windows exist in the lower-id base, so it owns none of them
    val exactBases = docs.filter { case (id, n) => id % 10 == 0 && n >= 8 }
    assert(exactBases.nonEmpty)
    exactBases.foreach { case (id, n) =>
      val r = byId.get(id + 1000000L)
      assert(r.exists(x => x._3 == x._4 && x._4 == n),
        s"exact copy of $id not fully removed: ${r.orNull}")
    }
    // near copies (+2e6, first token dropped) are suffix windows of the
    // base doc — also fully removed
    val nearBases = docs.filter { case (id, n) => id % 10 == 1 && n - 1 >= 8 }
    assert(nearBases.nonEmpty)
    nearBases.foreach { case (id, n) =>
      val r = byId.get(id + 2000000L)
      assert(r.exists(x => x._3 == x._4 && x._4 == n - 1),
        s"near copy of $id not fully removed: ${r.orNull}")
    }
    // structural sanity: every flagged doc has >=1 span, a span is at
    // least one L=8 window, and removal never exceeds the doc
    rows.foreach { case (id, sp, rm, n) =>
      assert(sp >= 1 && rm >= 8 && rm <= n, s"bad span row $id: $sp/$rm/$n")
    }
  }

  test("d30 incremental substring report equals the full rebuild on the batch") {
    val rebuild = QueryDef.registry.find(_.name == "d29_substring_spans").get
      .build(spark, sfDir).filter($"doc_id" % 4 === 3)
      .as[(Long, Long, Long, Long)].collect().toSet
    val incremental = QueryDef.registry.find(_.name == "d30_incremental_substring").get
      .build(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(incremental == rebuild,
      s"incremental diverges: only-inc=${(incremental -- rebuild).take(3)} " +
        s"only-rebuild=${(rebuild -- incremental).take(3)}")
    assert(incremental.nonEmpty, "batch had nothing to flag — test corpus degenerate")
  }

  test("c14 scrub is exactly consistent with d29's span report") {
    val spans = QueryDef.registry.find(_.name == "d29_substring_spans").get
      .build(spark, sfDir)
      .select($"doc_id", $"removed_tokens", $"n_tokens")
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val kept = QueryDef.registry.find(_.name == "c14_span_scrubbed_export").get
      .build(spark, sfDir)
      .select($"doc_id", $"n_kept", size(TextFunctions.tokens($"clean_text")).cast("long"))
      .as[(Long, Long, Long)].collect()
    // reassembled text always tokenizes back to exactly n_kept tokens
    kept.foreach { case (id, nk, nt) =>
      assert(nk == nt, s"doc $id: clean_text has $nt tokens, n_kept=$nk")
    }
    val keptById = kept.map(r => r._1 -> r._2).toMap
    // flagged-but-surviving docs keep exactly n_tokens - removed_tokens;
    // fully-removed docs are absent from the export
    spans.foreach { case (id, (rm, n)) =>
      if (rm == n) assert(!keptById.contains(id), s"fully-removed doc $id exported")
      else assert(keptById.get(id).contains(n - rm),
        s"doc $id: kept ${keptById.get(id)}, expected ${n - rm}")
    }
    // unflagged docs survive whole: export covers every corpus doc that
    // is not fully removed
    val corpusN = operators.DedupQueries.corpus(spark, sfDir).count()
    val fullyRemoved = spans.count { case (_, (rm, n)) => rm == n }
    assert(kept.length.toLong == corpusN - fullyRemoved,
      s"export rows ${kept.length} != corpus $corpusN - fullyRemoved $fullyRemoved")
  }

  test("t25 bpe encode: token counts bounded by words and chars, net compression") {
    val rows = QueryDef.registry.find(_.name == "t25_bpe_encode").get
      .build(spark, sfDir)
      .select($"doc_id", $"n_words", $"n_chars", $"n_bpe_tokens")
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    // a word of c chars encodes to between 1 and c symbols, so per doc:
    // n_words <= n_bpe_tokens <= n_chars
    rows.foreach { case (id, w, c, t) =>
      assert(w >= 1 && t >= w && t <= c, s"doc $id: words=$w chars=$c toks=$t")
    }
    // the learned merges must actually fire somewhere: corpus-level
    // token mass strictly below character mass
    assert(rows.map(_._4).sum < rows.map(_._3).sum, "no merge ever applied")
  }

  test("s16 SQ8: approx ranking is complete, near exact, codes bounded") {
    val rows = QueryDef.registry.find(_.name == "s16_sq8_quantized").get
      .build(spark, sfDir)
      .select($"vec_id", $"approx_d2", $"exact_d2")
      .as[(Long, Double, Double)].collect()
    assert(rows.length == 10)
    rows.foreach { case (id, a, e) =>
      // 8-bit per-dim quantization: per-dim error ≤ step/2; at 64 dims
      // the squared-distance drift stays well under 5% of typical d2
      assert(a > 0 && e > 0, s"vec $id: non-positive distance")
      assert(math.abs(a - e) / e < 0.05,
        s"vec $id: SQ8 distance drifted ${math.abs(a - e) / e} from exact")
    }
  }

  test("s15 incremental append equals the one-shot s14 build row-for-row") {
    val oneShot = QueryDef.registry.find(_.name == "s14_ivf_stored_index").get
      .build(spark, sfDir).collect()
    val appended = QueryDef.registry.find(_.name == "s15_ivf_incremental_append").get
      .build(spark, sfDir).collect()
    assert(oneShot.sameElements(appended),
      "frozen-centroid append diverged from the full rebuild")
  }

  test("s25 feed-driven append equals the one-shot s14 build row-for-row") {
    val oneShot = QueryDef.registry.find(_.name == "s14_ivf_stored_index").get
      .build(spark, sfDir).collect()
    val subscribed = QueryDef.registry
      .find(_.name == "s25_subscribed_ann_maintenance").get
      .build(spark, sfDir).collect()
    assert(oneShot.sameElements(subscribed),
      "change-feed-driven index append diverged from the full rebuild")
  }

  test("s26 stored-code ADC serving equals the s08 recompute path row-for-row") {
    val recompute = QueryDef.registry.find(_.name == "s08_pq_adc").get
      .build(spark, sfDir).collect()
    val stored = QueryDef.registry.find(_.name == "s26_pq_stored_codes").get
      .build(spark, sfDir).collect()
    assert(recompute.sameElements(stored),
      "stored-code ADC ranking diverged from the recompute path")
  }

  test("s18 delete-then-search equals a rebuild over the surviving vectors") {
    import org.apache.spark.sql.expressions.Window
    import VectorFunctions.{cosineExact, l2SqExact}
    val viaTombstones = QueryDef.registry
      .find(_.name == "s18_ivf_tombstone_delete").get
      .build(spark, sfDir).collect()
    // ground truth: index rebuilt from scratch on the survivors only,
    // same frozen centroids (delete ≡ rebuild is the lifecycle contract)
    val emb = Tables.load(spark, sfDir, "embeddings")
    val cents = emb.filter($"vec_id" < 8)
      .select($"vec_id".as("cid"), $"embedding".as("cv"))
    val w = Window.partitionBy($"vec_id").orderBy($"dist2".asc, $"cid".asc)
    val assigned = emb.filter($"vec_id" % 7 =!= 3)
      .crossJoin(broadcast(cents))
      .select($"vec_id", $"embedding", $"cid",
        round(l2SqExact("embedding", "cv"), 9).as("dist2"))
      .withColumn("rk", row_number().over(w)).filter($"rk" === 1)
      .select($"vec_id", $"cid", $"embedding")
    val q = assigned.filter($"vec_id" === 0)
      .select($"cid".as("qcid"), $"embedding".as("qv"))
    val rebuild = assigned.join(broadcast(q), $"cid" === $"qcid")
      .filter($"vec_id" =!= 0)
      .select($"vec_id", round(cosineExact("embedding", "qv"), 9).as("cosine"))
      .orderBy($"cosine".desc, $"vec_id".asc).limit(5).collect()
    assert(rebuild.sameElements(viaTombstones),
      "tombstoned index diverged from the survivor rebuild")
  }

  test("s14 stored-index search equals s04 recompute search row-for-row") {
    val recompute = QueryDef.registry.find(_.name == "s04_ivf_search").get
      .build(spark, sfDir).collect()
    val indexed = QueryDef.registry.find(_.name == "s14_ivf_stored_index").get
      .build(spark, sfDir).collect()
    assert(recompute.sameElements(indexed),
      "stored-index ANN diverged from the recompute path")
  }

  test("c08 shuffle: deterministic replay, dense per-shard positions") {
    val q = QueryDef.registry.find(_.name == "c08_training_order_shuffle").get
    val a = q.build(spark, sfDir).collect()
    val b = q.build(spark, sfDir).collect()
    assert(a.nonEmpty && a.sameElements(b), "epoch shuffle must replay identically")
    // full (unsampled) order: positions within each shard are exactly 1..n
    val full = Tables.load(spark, sfDir, "documents")
      .select($"doc_id", md5(concat(lit("42:"), $"doc_id")).as("h"))
      .withColumn("shard", substring($"h", 1, 1))
      .groupBy($"shard").count().as[(String, Long)].collect().toMap
    val probe = a.map(r => (r.getAs[String]("shard"), r.getAs[Long]("pos")))
    probe.foreach { case (sh, pos) =>
      assert(pos >= 1 && pos <= full(sh), s"pos $pos outside shard $sh size ${full(sh)}")
    }
  }

  test("c09 mixture: budget respected and maximal in hash order per source") {
    val budget = 20000L
    val kept = QueryDef.registry.find(_.name == "c09_token_budget_mixture").get
      .build(spark, sfDir)
      .select($"source", $"toks_kept", $"n_kept")
      .as[(String, Long, Long)].collect()
    assert(kept.nonEmpty)
    kept.foreach { case (src, toks, _) =>
      assert(toks <= budget, s"$src blew its token budget: $toks")
    }
    // maximality: for each source, the next doc in hash order would cross
    // the budget (greedy prefix property of the cumulative-sum filter)
    val perDoc = Tables.load(spark, sfDir, "documents")
      .select($"source", $"doc_id",
        md5(concat(lit("42:"), $"doc_id")).as("h"),
        size(TextFunctions.tokens($"text")).cast("long").as("n"))
      .as[(String, Long, String, Long)].collect()
      .groupBy(_._1).map { case (src, docs) =>
        src -> docs.sortBy(d => (d._3, d._2)).map(_._4)
      }
    val keptBySrc = kept.map(k => k._1 -> (k._2, k._3)).toMap
    perDoc.foreach { case (src, toksInOrder) =>
      val (gotToks, gotN) = keptBySrc.getOrElse(src, (0L, 0L))
      val cum = toksInOrder.scanLeft(0L)(_ + _).tail
      val expectN = cum.takeWhile(_ <= budget).length
      assert(gotN == expectN, s"$src kept $gotN docs, greedy prefix is $expectN")
      if (expectN < toksInOrder.length)
        assert(gotToks + toksInOrder(expectN) > budget,
          s"$src could have kept the next doc — not maximal")
    }
  }

  test("s19 MMR matches a plain-Scala greedy reference") {
    // independent double-math reimplementation of the two stages; the
    // query's decimal-exact folds agree to 9 decimals, so the selected
    // SEQUENCE must match exactly and scores within 2e-9
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])]
      .collect().toMap.map { case (id, v) => id -> v.map(_.toDouble) }
    def dot(a: Seq[Double], b: Seq[Double]): Double =
      a.lazyZip(b).map(_ * _).sum
    def rnd(x: Double): Double =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val qv = emb(0L)
    val nq = math.sqrt(dot(qv, qv))
    val vecs = emb - 0L
    val norms = vecs.map { case (id, v) => id -> math.sqrt(dot(v, v)) }
    val rel = vecs.map { case (id, v) => id -> rnd(dot(v, qv) / (norms(id) * nq)) }
    val cand = rel.toSeq.sortBy { case (id, r) => (-r, id) }.take(16)
    def sim(a: Long, b: Long): Double =
      rnd(dot(vecs(a), vecs(b)) / (norms(a) * norms(b)))
    var sel = Vector((cand.head._1, cand.head._2, cand.head._2))
    var rem = cand.tail
    for (_ <- 2 to 6) {
      val scored = rem.map { case (c, r) =>
        val maxSim = sel.map(s => sim(c, s._1)).max
        (c, r, rnd(0.7 * r - 0.3 * maxSim))
      }
      val best = scored.minBy { case (c, _, sc) => (-sc, c) }
      sel :+= best
      rem = rem.filterNot(_._1 == best._1)
    }
    val got = SparkEntry.queries("s19_mmr_diversified")(spark, sfDir)
      .select($"rank", $"vec_id", $"rel", $"score")
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1)
    assert(got.map(_._2).toSeq == sel.map(_._1),
      s"selected sequence diverged: got ${got.map(_._2).toSeq} want ${sel.map(_._1)}")
    got.zip(sel).foreach { case ((_, _, gr, gs), (_, wr, ws)) =>
      assert(math.abs(gr - wr) < 2e-9 && math.abs(gs - ws) < 2e-9)
    }
    // the MMR objective is monotone non-increasing: each step maximizes
    // over a shrunk candidate set against a grown selected set
    got.toSeq.sliding(2).collect { case Seq(a, b) =>
      assert(b._4 <= a._4 + 2e-9, s"MMR objective increased: $a -> $b")
    }.toList
  }

  test("c15 pack manifest is exactly the per-window rollup of c02's layout") {
    val c02 = SparkEntry.queries("c02_sequence_packing")(spark, sfDir)
      .select($"source", $"pack_id", $"pack_offset", $"n_toks")
      .as[(String, Long, Long, Long)].collect()
    val want = c02.groupBy(r => (r._1, r._2)).map { case ((src, pid), rs) =>
      val offs = rs.map(_._3).sorted.toSeq
      val fill = math.min(256L, rs.map(r => r._3 + r._4).max)
      (src, pid) -> ((rs.length.toLong, offs, offs.head, fill, 256L - fill))
    }
    val got = SparkEntry.queries("c15_pack_manifest")(spark, sfDir)
      .select($"source", $"pack_id", $"n_docs", $"boundaries", $"carry_in",
        $"fill", $"pad")
      .as[(String, Long, Long, String, Long, Long, Long)].collect()
    assert(got.length == want.size)
    got.foreach { case (src, pid, nd, bsCsv, ci, fl, pd) =>
      // boundaries ship as the canonical CSV string (driver-comparator
      // contract); parse back for the structural assertion
      val bs = bsCsv.split(',').map(_.toLong).toSeq
      assert(want((src, pid)) == ((nd, bs, ci, fl, pd)), s"window ($src,$pid)")
    }
    // dense concatenation: every window except each source's tail is full
    val lastPack = got.groupBy(_._1).map { case (s, rs) => s -> rs.map(_._2).max }
    got.foreach { case (src, pid, _, _, _, fl, _) =>
      if (pid != lastPack(src)) assert(fl == 256L, s"mid-stream ($src,$pid) not full")
    }
  }

  test("t26 script profile: plants flip mixed and dominant as designed") {
    val rows = SparkEntry.queries("t26_script_profile")(spark, sfDir)
      .select($"doc_id", $"n_chars", $"n_latin", $"n_cyr", $"n_cjk",
        $"n_greek", $"n_scripts", $"dominant", $"mixed")
      .as[(Long, Long, Long, Long, Long, Long, Long, String, Long)].collect()
    val byId = rows.map(r => r._1 -> r).toMap
    rows.foreach { case (id, nc, la, cy, cj, gr, ns, dom, mx) =>
      assert(la + cy + cj + gr <= nc, s"doc $id counts exceed length")
      assert((ns >= 2) == (mx == 1L), s"doc $id mixed flag inconsistent")
      if (id % 7 == 3) assert(cy > 0, s"doc $id missing cyrillic plant")
      if (id % 11 == 4) assert(cj > 0, s"doc $id missing cjk plant")
      if (id % 13 == 5) assert(gr > 0, s"doc $id missing greek plant")
      // independent Scala recomputation of the fixed-precedence argmax
      val wantDom =
        if (la >= cy && la >= cj && la >= gr && la > 0) "latin"
        else if (cy >= cj && cy >= gr && cy > 0) "cyrillic"
        else if (cj >= gr && cj > 0) "cjk"
        else if (gr > 0) "greek" else "none"
      assert(dom == wantDom, s"doc $id dominant $dom != recomputed $wantDom")
    }
    assert(rows.count(_._9 == 1L) > 0, "no mixed-script docs at this SF")
    assert(Set("latin", "cyrillic", "cjk", "greek")
      .subsetOf(rows.map(_._8).toSet), "some dominant branch never taken")
    assert(byId.values.exists(_._8 == "latin"))
  }

  test("q72 sketch audit: verdicts hold and group sizes conserve") {
    val rows = SparkEntry.queries("q72_quantile_sketch_audit")(spark, sfDir)
      .select($"event_type", $"n", $"p50_exact", $"p90_exact",
        $"p50_ok", $"p90_ok")
      .as[(String, Long, Double, Double, Boolean, Boolean)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (et, n, p50, p90, ok50, ok90) =>
      assert(ok50 && ok90, s"sketch out of rank tolerance for $et")
      assert(p50 <= p90, s"$et p50 > p90")
      assert(n > 0)
    }
    val total = Tables.events(spark, sfDir).count()
    assert(rows.map(_._2).sum == total, "per-type group sizes must conserve")
  }

  test("c16 curriculum positions are a permutation respecting band order") {
    val rows = SparkEntry.queries("c16_curriculum_order")(spark, sfDir)
      .select($"doc_id", $"band", $"curriculum_pos")
      .as[(Long, Long, Long)].collect()
    val n = rows.length
    assert(rows.map(_._3).sorted.toSeq == (0L until n.toLong),
      "positions must be a permutation of 0..N-1")
    // easy-first: every band-b position precedes every band-(b+1) position
    val byBand = rows.groupBy(_._2).view.mapValues(_.map(_._3)).toMap
    byBand.keys.toSeq.sorted.sliding(2).collect { case Seq(a, b) =>
      assert(byBand(a).max < byBand(b).min, s"band $a overlaps band $b")
    }.toList
    assert(byBand.size == 3, "all three difficulty bands expected at this SF")
  }

  test("s20 balance report conserves the corpus and bounds the shares") {
    val rows = SparkEntry.queries("s20_ivf_balance_report")(spark, sfDir)
      .select($"cid", $"n_vecs", $"share_ppm", $"hot")
      .as[(Long, Long, Long, Boolean)].collect()
    assert(rows.length == 8, "one row per centroid expected")
    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    assert(rows.map(_._2).sum == corpus, "bucket populations must conserve")
    // integer-div shares sum to at most 1e6 and within 8 ppm of it
    val ppm = rows.map(_._3).sum
    assert(ppm <= 1000000L && ppm >= 1000000L - 8, s"shares sum $ppm")
    rows.foreach { case (cid, n, share, hot) =>
      assert(hot == (n * 8 > corpus * 2), s"hot flag wrong for $cid")
      assert(share == n * 1000000L / corpus)
    }
  }

  test("d31 record linkage recovers exactly the planted dirty copies") {
    val got = SparkEntry.queries("d31_record_linkage")(spark, sfDir)
      .select($"a_key", $"b_key", $"name_lev", $"score")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    val planted = spark.read.parquet(s"$sfDir/customer.parquet")
      .select($"c_custkey").as[Long].collect()
      .filter(_ % 17 == 5).sorted
    assert(got.map(_._1).toSeq == planted.toSeq,
      "matched left keys must be exactly the planted originals")
    got.foreach { case (ak, bk, lev, score) =>
      assert(bk == ak + 1000000000L, "match must link original to its copy")
      assert(lev == 1L && score == 100L)
    }
  }

  test("t27 drift KL is non-negative with churn bounded by the vocab") {
    val rows = SparkEntry.queries("t27_corpus_drift_kl")(spark, sfDir)
      .select($"source", $"v", $"na", $"nb", $"kl_a_b", $"new_in_b",
        $"gone_in_b")
      .as[(String, Long, Long, Long, Double, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (src, v, na, nb, kl, newB, goneB) =>
      // smoothed P and Q are proper distributions over the union vocab,
      // so Gibbs' inequality bounds the divergence below by zero
      assert(kl >= -1e-6, s"$src KL negative: $kl")
      assert(newB + goneB <= v, s"$src churn exceeds vocab")
      assert(na > 0 && nb > 0, s"$src has an empty half")
    }
  }

  test("q76 equi-depth histogram: conservation, bucket bounds, monotone ranges") {
    val rows = QueryDef.registry.find(_.name == "q76_equidepth_histogram").get
      .build(spark, sfDir)
      .select($"bucket", $"n_rows", $"lo", $"hi")
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1)
    val total = spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    assert(rows.map(_._2).sum == total, "bucket populations must sum to N")
    assert(rows.forall(r => r._1 >= 0 && r._1 < 8), "bucket ids in [0, 8)")
    // value ranges are disjoint and ordered: each bucket's hi < next lo
    rows.sliding(2).foreach {
      case Array(a, b) => assert(a._4 < b._3, s"overlap ${a._1}->${b._1}")
      case _ =>
    }
    // equi-depth: every bucket within 2x of the even share (tie mass is
    // tiny for near-distinct prices)
    rows.foreach { case (b, n, _, _) =>
      assert(n <= 2 * total / 8 + 1, s"bucket $b overweight: $n")
    }
  }

  test("d32 estimator audit: planted exact copies estimate and measure J=1") {
    val rows = QueryDef.registry.find(_.name == "d32_minhash_estimator_audit").get
      .build(spark, sfDir)
      .select($"doc_a", $"doc_b", $"matches", $"inter", $"uni", $"within_tol")
      .as[(Long, Long, Long, Long, Long, Boolean)].collect()
    assert(rows.nonEmpty)
    // an exact copy (doc + 1000000) shares every shingle AND every lane
    val exactPairs = rows.filter { case (a, b, _, _, _, _) => b == a + 1000000L }
    assert(exactPairs.nonEmpty, "no planted exact-copy candidates surfaced")
    exactPairs.foreach { case (a, b, m, i, u, ok) =>
      assert(m == 8L, s"($a,$b): exact copy must match all 8 lanes, got $m")
      assert(i == u, s"($a,$b): exact copy must have Jaccard 1")
      assert(ok, s"($a,$b): J=1 with m=8 must pass the tolerance verdict")
    }
    // estimator sanity everywhere: inter <= uni, matches in [0, 8]
    rows.foreach { case (a, b, m, i, u, _) =>
      assert(m >= 0 && m <= 8 && i <= u && u > 0, s"($a,$b) bounds violated")
    }
  }

  test("c17 provenance manifest is exactly the dropped set d09 reports") {
    val manifest = QueryDef.registry.find(_.name == "c17_dedup_provenance").get
      .build(spark, sfDir)
      .select($"survivor", $"n_removed", $"removed")
      .as[(Long, Long, String)].collect()
    assert(manifest.nonEmpty)
    manifest.foreach { case (srv, n, remCsv) =>
      // removed ships as the canonical CSV string (driver-comparator
      // contract); parse back for the structural assertions
      val rem = remCsv.split(',').map(_.toLong).toSeq
      assert(rem.size.toLong == n, s"$srv count mismatch")
      assert(rem == rem.sorted, s"$srv removed list not sorted")
      assert(!rem.contains(srv), s"$srv absorbed itself")
      assert(rem.forall(_ > srv), s"$srv is not the minimum of its cluster")
    }
    // total absorbed docs == d09's n_dropped total
    val dropped = QueryDef.registry.find(_.name == "d09_dedup_survivors").get
      .build(spark, sfDir)
      .select(sum($"n_dropped")).as[Long].head()
    assert(manifest.map(_._2).sum == dropped,
      s"manifest mass ${manifest.map(_._2).sum} != d09 dropped $dropped")
  }

  test("t28 keyness: bounded heads, deterministic order, lift sanity") {
    val rows = QueryDef.registry.find(_.name == "t28_keyness_report").get
      .build(spark, sfDir)
      .select($"source", $"rnk", $"tf", $"tf_all", $"score_ppm")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (src, gs) =>
      val ranks = gs.map(_._2).sorted
      assert(ranks.length <= 5 && ranks.toSeq == (1L to ranks.length),
        s"$src ranks not a 1..k prefix: ${ranks.toSeq}")
      // scores never increase down the ranked head
      val byRank = gs.sortBy(_._2).map(_._5)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b },
        s"$src scores not non-increasing")
    }
    rows.foreach { case (src, _, tf, tfAll, ppm) =>
      assert(tf <= tfAll && tfAll >= 10, s"$src df floor violated")
      assert(ppm == tf * 1000000L / tfAll, s"$src ppm math drifted")
    }
  }

  test("c18 incremental funnel: caps bind, evictions live, conservation") {
    val rows = QueryDef.registry.find(_.name == "c18_incremental_funnel").get
      .build(spark, sfDir)
      .select($"source", $"final_count", $"new_admitted", $"evicted_old")
      .as[(String, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    // the cap must BIND (a non-binding cap means the displacement path
    // is dead code — the degenerate corpus shape this operator's first
    // cut shipped with)
    assert(rows.forall(_._2 == 15L), "per-source cap must bind at 15")
    assert(rows.exists(_._3 > 0), "no batch doc was ever admitted")
    assert(rows.exists(_._4 > 0), "no old doc was ever evicted")
    // with a full old cap, every new admit displaces exactly one old doc
    rows.foreach { case (src, fin, nw, ev) =>
      assert(nw == ev, s"$src: $nw admits but $ev evictions with a full cap")
      assert(nw <= fin, s"$src: more admits than slots")
    }
  }

  test("c18 core: hand-computed dedup-swap and cap-displacement evictions") {
    // every text passes the quality gate (>= 10 tokens, low punct)
    def txt(tag: String) = s"alpha beta gamma delta epsilon zeta eta theta iota $tag"
    // old source A: ids 10, 20, 30 admitted under cap=2 -> {10, 20}
    val old = Seq(
      (10L, txt("a"), "A"), (20L, txt("b"), "A"), (30L, txt("c"), "A"),
      (10L + 1, txt("x"), "B"), (21L, txt("y"), "B"))
      .toDF("doc_id", "text", "source")
    // batch: id 5 duplicates text "a" (smaller id -> dedup SWAP evicts 10);
    // id 15 is fresh (enters between 5-swap and 20 -> cap DISPLACES 20)
    val batch = Seq((5L, txt("a"), "A"), (15L, txt("fresh"), "A"))
      .toDF("doc_id", "text", "source")
    val got = operators.TextQueries.incrementalFunnel(old, batch, cap = 2)
      .select($"source", $"final_count", $"new_admitted", $"evicted_old")
      .as[(String, Long, Long, Long)].collect()
      .map { case (k, a, b, c) => k -> ((a, b, c)) }.toMap
    // source A final = {5 (swap winner), 15}: 2 new admits, both old
    // admitted docs (10 via swap, 20 via displacement) evicted
    assert(got("A") == ((2L, 2L, 2L)), s"A: ${got("A")}")
    // source B untouched by the batch
    assert(got("B") == ((2L, 0L, 0L)), s"B: ${got("B")}")
  }

  test("d33 bag fingerprint is invariant under any token permutation") {
    val texts = Seq("one two three four five", "b a", "z z y y x")
    val rng = new scala.util.Random(7)
    val rows = texts.flatMap { t =>
      val toks = t.split(" ").toSeq
      Seq(t, rng.shuffle(toks).mkString(" "), toks.reverse.mkString(" "))
        .map(v => (t, v))
    }.toDF("orig", "variant")
    val fps = rows.select($"orig",
        md5(array_join(sort_array(TextFunctions.tokens($"variant")), " ")).as("fp"))
      .distinct().groupBy($"orig").agg(countDistinct($"fp").as("nfp"))
      .as[(String, Long)].collect()
    fps.foreach { case (t, n) =>
      assert(n == 1L, s"permutations of '$t' produced $n distinct bags")
    }
  }

  test("t29 hashed vectors: 16 dims, unit norm within micro rounding, nnz bounded") {
    val rows = SparkEntry.queries("t29_hashing_vectorizer")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nnz = r.getAs[Long]("nnz")
      val comps = r.getAs[String]("vec").split(",", -1).map(_.toLong)
      assert(comps.length == 16, s"doc ${r.get(0)}: ${comps.length} dims")
      assert(nnz >= 0 && nnz <= 16)
      // micro components are v/l2 scaled by 1e6: the squared sum must be
      // 1 within the 16-term rounding budget (±5e-7 each, cross terms
      // bounded by 2·16·5e-7); a micro comp can round to 0 while v ≠ 0,
      // so nonzero comps never exceed nnz
      if (nnz > 0) {
        val ss = comps.map(c => (c / 1e6) * (c / 1e6)).sum
        assert(math.abs(ss - 1.0) < 5e-5, s"doc ${r.get(0)}: norm² = $ss")
        assert(r.getAs[Double]("l2norm") > 0)
      }
      assert(comps.count(_ != 0) <= nnz)
    }
  }

  test("s29 fusion scores recompute exactly from the leg ranks") {
    val rows = SparkEntry.queries("s29_hybrid_rrf")(spark, sfDir).collect()
    assert(rows.length == 30) // 3 queries × fused top-10
    val byQ = rows.groupBy(_.getAs[Long]("qid"))
    assert(byQ.keySet == Set(0L, 7L, 13L))
    byQ.values.foreach { rs =>
      assert(rs.map(_.getAs[Long]("rk")).sorted.toSeq == (1L to 10L),
        "fused ranks must be dense 1..10 per query")
      rs.foreach { r =>
        def contrib(field: String): Long =
          Option(r.getAs[java.lang.Long](field))
            .map(v => 1000000000L / (60L + v)).getOrElse(0L)
        assert(r.getAs[Long]("rrf_micro") ==
          contrib("lex_rk") + contrib("vec_rk"),
          s"rrf_micro must be exactly the integer rank contributions: $r")
      }
    }
  }

  test("c20 DP noise is nonzero, Laplace-bounded, and seed-deterministic") {
    val rows = SparkEntry.queries("c20_dp_release")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // |noise| = b·|ln(1-2|u|)| with u a 32-bit hash uniform: bounded by
    // b·ln(2^32) ≈ 22.18·b; zero noise would mean a broken seed pipe
    // (u = exactly 0 for every source)
    val dn = rows.map(r => r.getAs[Double]("docs_noised") - r.getAs[Long]("n_docs"))
    val mn = rows.map(r => r.getAs[Double]("mass_noised") - r.getAs[Long]("mass_clipped"))
    assert(dn.forall(n => math.abs(n) <= 1.0 * 22.2))
    assert(mn.forall(n => math.abs(n) <= 50.0 * 22.2))
    assert(dn.exists(n => math.abs(n) > 1e-6), "every docs noise draw is zero")
    assert(rows.forall(_.getAs[Double]("eps_spent") == 2.0))
    // determinism: a second run draws identical noise
    val again = SparkEntry.queries("c20_dp_release")(spark, sfDir).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("renderMp3: syncsafe tag size + bit-packed frame header round-trip") {
    import MediaPipeline._
    // a tag size that exercises all four syncsafe bytes (> 2^21)
    val sz = 5000000 // = 0x4C4B40 → syncsafe 02 31 16 40
    val mp3 = renderMp3(sz, bitrateIdx = 9, srIdx = 1)
    assert(new String(mp3.take(3), "US-ASCII") == "ID3" && mp3(3) == 3)
    val ss = mp3.slice(6, 10).map(_.toInt & 0xFF)
    assert(ss.forall(_ < 0x80), s"syncsafe high bit set: ${ss.toSeq}")
    // decoding per id3.org §3.1 recovers the size exactly
    assert((ss(0) << 21 | ss(1) << 14 | ss(2) << 7 | ss(3)) == sz)
    // NOT plain base-256: for any size with a 7-bit carry the two differ
    assert((ss(0) << 24 | ss(1) << 16 | ss(2) << 8 | ss(3)) != sz)
    // first audio frame sits at exactly 10 + tag_size
    val f = 10 + sz
    assert(mp3.length == f + 4)
    assert((mp3(f) & 0xFF) == 0xFF && (mp3(f + 1) & 0xFF) == 0xFB)
    // byte 3: bitrate index in the high nibble, sample-rate index bits 3-2
    assert(((mp3(f + 2) & 0xFF) >> 4) == 9 && (((mp3(f + 2) & 0xFF) >> 2) & 3) == 1)
    // boundary sizes stay syncsafe-valid
    for (s <- Seq(0, 127, 128, (1 << 21) - 1, 1 << 21)) {
      val b = renderMp3(s, 1, 0).slice(6, 10).map(_.toInt & 0xFF)
      assert(b.forall(_ < 0x80) &&
        (b(0) << 21 | b(1) << 14 | b(2) << 7 | b(3)) == s, s"size $s")
    }
  }

  test("UniqUpToAggregator: exact below cap, saturates at N+1, state stays bounded") {
    val agg = new graft.functions.UniqUpToAggregator(4)
    // 10k distinct values through ONE buffer: the state never exceeds
    // N+1 elements — the bounded-memory contract that is the operator's
    // reason to exist (vs O(NDV) count-distinct state)
    val big = (1L to 10000L).foldLeft(agg.zero)(agg.reduce)
    assert(big.vals.length == 5, s"buffer grew past the cap: ${big.vals.length}")
    assert(agg.finish(big) == 5L) // = N+1: "more than 4"
    // exact below the cap, duplicates ignored
    val small = Seq(7L, 7L, 3L, 9L, 3L).foldLeft(agg.zero)(agg.reduce)
    assert(agg.finish(small) == 3L && small.vals == Seq(3L, 7L, 9L))
    // merge is order-independent and truncation never changes the answer
    val parts = (1L to 100L).grouped(10)
      .map(_.foldLeft(agg.zero)(agg.reduce)).toSeq
    val ltr = parts.reduce(agg.merge)
    val rtl = parts.reverse.reduce(agg.merge)
    assert(ltr == rtl && agg.finish(ltr) == 5L)
    // disjoint sub-cap states merge exactly
    val m = agg.merge(
      Seq(1L, 2L).foldLeft(agg.zero)(agg.reduce),
      Seq(3L, 4L).foldLeft(agg.zero)(agg.reduce))
    assert(agg.finish(m) == 4L && m.vals == Seq(1L, 2L, 3L, 4L))
  }

  test("viterbiSegment: optimal product vs brute-force enumeration, coverage edge cases") {
    import graft.functions.TextFunctions.viterbiSegment
    val rnd = new scala.util.Random(7)
    def score(pieces: Seq[String], p: Map[String, Double]): Double =
      pieces.foldLeft(1.0)((acc, x) => acc * p(x))
    def allSegs(w: String, p: Map[String, Double], L: Int): Seq[Seq[String]] =
      if (w.isEmpty) Seq(Nil)
      else (1 to math.min(L, w.length)).flatMap { j =>
        val piece = w.substring(0, j)
        if (!p.contains(piece)) Nil
        else allSegs(w.substring(j), p, L).map(piece +: _)
      }
    (0 until 200).foreach { _ =>
      val alpha = "abc"
      val vocab = scala.collection.mutable.Map[String, Double]()
      alpha.foreach(c => vocab(c.toString) = 0.05 + rnd.nextDouble() * 0.2)
      (0 until 6).foreach { _ =>
        val len = 2 + rnd.nextInt(3)
        val piece = Seq.fill(len)(alpha(rnd.nextInt(3))).mkString
        vocab(piece) = 0.05 + rnd.nextDouble() * 0.5
      }
      val p = vocab.toMap
      val w = Seq.fill(1 + rnd.nextInt(8))(alpha(rnd.nextInt(3))).mkString
      val got = viterbiSegment(w, p, 4)
      assert(got.mkString == w, s"segmentation must cover '$w': $got")
      val best = allSegs(w, p, 4).map(score(_, p)).max
      assert(score(got, p) == best,
        s"'$w': viterbi ${score(got, p)} vs brute $best")
    }
    // uncovered character → no segmentation
    assert(viterbiSegment("axb", Map("a" -> 0.5, "b" -> 0.5), 4) == Nil)
    assert(viterbiSegment("", Map("a" -> 1.0), 4) == Nil)
  }

  test("unigramTrain: hand-computed Viterbi-EM round, required chars, mass") {
    import spark.implicits._
    // corpus: abab×2, ab, cd. Seed substring counts (weighted, L=2):
    // a:5 b:5 ab:5 ba:2 c:1 d:1 cd:1 (total 20). E-step segments
    // abab→[ab,ab], ab→[ab], cd→[cd] ⇒ counts ab:5, cd:1; required
    // chars a,b,c,d re-enter at 1. Prune to top-3 (ab,a,b) + all
    // singles ⇒ {ab:5, a:1, b:1, c:1, d:1}, total 9.
    val docs = Seq("abab abab ab cd").toDF("text")
    val model = graft.functions.TextFunctions.unigramTrain(
      docs, "text", vocabSize = 3, maxPieceLen = 2, nIters = 1)
    val m = model.toMap
    assert(model.head._1 == "ab" && math.abs(m("ab") - 5.0 / 9) < 1e-12, model)
    assert(Seq("a", "b", "c", "d").forall(c => math.abs(m(c) - 1.0 / 9) < 1e-12),
      model)
    assert(m.size == 5 && math.abs(m.values.sum - 1.0) < 1e-9)
    // determinism: training twice gives the identical model
    assert(graft.functions.TextFunctions.unigramTrain(
      docs, "text", 3, 2, 1) == model)
    // more EM rounds keep mass normalized and coverage total
    val m3 = graft.functions.TextFunctions.unigramTrain(
      docs, "text", 4, 2, 3).toMap
    assert(math.abs(m3.values.sum - 1.0) < 1e-9)
    assert(Seq("a", "b", "c", "d").forall(m3.contains))
  }

  test("DeltaSumAggregator: merge-order independence, equals the window fold, bounded state") {
    import graft.functions.{DeltaSumAggregator, DeltaSumIn}
    val agg = new DeltaSumAggregator
    // reference: q18's window formulation as a plain fold over the
    // fully sorted timeline (negative delta ignored, HALF_UP to 1e-6)
    def windowRef(rows: Seq[DeltaSumIn]): (Double, Long, Long) = {
      val sorted = rows.sortBy(r => (r.tsMicros, r.eventId))
      var sumU = 0L; var incr = 0L
      sorted.sliding(2).foreach {
        case Seq(a, b) =>
          val d = b.value - a.value
          if (!(d < 0.0)) {
            incr += 1
            sumU += java.math.BigDecimal.valueOf(d)
              .setScale(6, java.math.RoundingMode.HALF_UP)
              .unscaledValue().longValueExact()
          }
        case _ => ()
      }
      (new java.math.BigDecimal(java.math.BigInteger.valueOf(sumU), 6)
        .doubleValue(), incr, sorted.size.toLong)
    }
    def out(b: graft.functions.DeltaSumBuf) = {
      val o = agg.finish(b); (o.sum_increase, o.n_increases, o.n_events)
    }
    // a counter with resets (negative deltas) and duplicate-ts ties
    val rnd = new scala.util.Random(42)
    var v = 100.0
    val rows = (0 until 400).map { i =>
      v = if (rnd.nextInt(10) == 0) rnd.nextDouble() * 10
          else v + rnd.nextDouble() * 5
      DeltaSumIn((i / 2).toLong * 1000000L, i.toLong, math.floor(v * 1e4) / 1e4)
    }
    val expected = windowRef(rows)
    // contiguous sorted chunks = time-clustered partitions
    val parts = rows.grouped(37).map(_.foldLeft(agg.zero)(agg.reduce)).toSeq
    val ltr = parts.reduce(agg.merge)
    val rtl = parts.reverse.reduce(agg.merge)
    val shuffled = rnd.shuffle(parts).reduce(agg.merge)
    // binary merge tree (the shape Spark's final aggregation actually uses)
    def tree(ps: Seq[graft.functions.DeltaSumBuf]): graft.functions.DeltaSumBuf =
      if (ps.size == 1) ps.head
      else tree(ps.grouped(2).map(g => g.reduce(agg.merge)).toSeq)
    assert(out(ltr) == expected)
    assert(out(rtl) == expected)
    assert(out(shuffled) == expected)
    assert(out(tree(rnd.shuffle(parts))) == expected)
    // state bounded by partial count, never row count
    assert(ltr.runs.size <= parts.size,
      s"buffer grew past partial count: ${ltr.runs.size}")
    // single sorted pass collapses to ONE segment
    val one = rows.foldLeft(agg.zero)(agg.reduce)
    assert(one.runs.size == 1 && out(one) == expected)
    // all-descending counter: every delta ignored, sum 0, count 0
    val desc = (0 until 50).map(i =>
      DeltaSumIn(i.toLong * 1000, i.toLong, 1000.0 - i))
    assert(out(desc.foldLeft(agg.zero)(agg.reduce)) == ((0.0, 0L, 50L)))
  }

  test("q83 core: day decomposition equals a naive global sweep on random multi-day intervals") {
    // Deterministic LCG — the corpus plants only same-day-ish intervals,
    // so this replays the edge the decomposition must survive: spans
    // crossing 1..5 day boundaries, zero-length intervals, and start/end
    // collisions at the same microsecond.
    var seed = 0xC0FFEEL
    def next(bound: Long): Long = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      math.floorMod(seed >>> 17, bound)
    }
    val day = 86400000000L
    val intervals = (0 until 400).map { i =>
      val typ = s"ty${next(5)}"
      val st = next(6 * day)
      val dur = next(3) match {
        case 0 => 0L                      // momentary
        case 1 => next(day / 4)           // same-day-ish
        case _ => day + next(4 * day)     // crosses 1..5 midnights
      }
      (typ, i.toLong, st, dur)
    }
    val pts = intervals.flatMap { case (ty, id, st, dur) =>
      Seq((ty, id, st, 1), (ty, id, st + dur, -1))
    }.toDF("event_type", "event_id", "t", "d")
    val got = graft.operators.ExtendedQueries.maxIntersectionsDecomposed(pts)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // naive reference: one global running sum per type, starts before
    // ends at equal timestamps
    val ref = pts.as[(String, Long, Long, Int)].collect().toSeq
      .groupBy(_._1).toSeq.sortBy(_._1).map { case (ty, rows) =>
        val ordered = rows.sortBy { case (_, id, t, d) => (t, -d, id) }
        var run = 0L; var best = Long.MinValue
        ordered.foreach { p => run += p._4; best = math.max(best, run) }
        (ty, rows.length.toLong / 2, best)
      }
    assert(got == ref, s"decomposed sweep diverged:\ngot $got\nref $ref")
  }

  test("q82 math: A-ES inclusion frequency is proportional to weight (k=1, md5 uniforms)") {
    // The oracle proves q82's determinism, not its SEMANTICS. This
    // replays the exact key construction (u from the first 4 md5 bytes,
    // key = ln((v+1)/2^32)/w) over 2000 salted trials with k=1, where
    // A-ES is provably exact: P(argmax key = i) = w_i / Σw. Weights
    // 1..50 → the heaviest item should win ≈ 2000·50/1275 ≈ 78 times,
    // the lightest ≈ 1.6. Deterministic (md5), so the bounds are safe.
    val md = java.security.MessageDigest.getInstance("MD5")
    def u(s: String): Double = {
      val h = md.digest(s.getBytes("UTF-8"))
      val v = ((h(0) & 0xFFL) << 24) | ((h(1) & 0xFFL) << 16) |
        ((h(2) & 0xFFL) << 8) | (h(3) & 0xFFL)
      (v + 1).toDouble / 4294967296.0
    }
    val weights = (1 to 50).map(_.toDouble)
    val wins = new Array[Int](51)
    for (trial <- 0 until 2000) {
      val best = (1 to 50).maxBy(i => math.log(u(s"$trial:$i")) / weights(i - 1))
      wins(best) += 1
    }
    assert(wins(50) >= 40 && wins(50) <= 130,
      s"heaviest item won ${wins(50)} of 2000 (expected ~78)")
    assert(wins(1) <= 10, s"lightest item won ${wins(1)} of 2000 (expected ~1.6)")
    val heavyTen = (41 to 50).map(wins).sum
    val lightTen = (1 to 10).map(wins).sum
    assert(heavyTen > 3 * lightTen,
      s"top-decile weights won $heavyTen vs bottom decile $lightTen — not weight-proportional")
  }

  test("registry sanity: unique names, every oracle key is a query") {
    val names = QueryDef.registry.map(_.name)
    assert(names.distinct.size == names.size)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q92 SpaceSaving: theorems hold under adversarial merge topologies, state stays bounded") {
    import graft.functions.{TopKAggregator, TopKBuf}
    val cap = 16
    val agg = new TopKAggregator(cap)
    // 4 hot keys (600, 500, 400, 300) in a tail of 2000 singletons:
    // N = 3800, so every hot key clears the N/cap = 237.5 guarantee line
    val rnd = new scala.util.Random(92)
    val stream = rnd.shuffle(
      Seq.fill(600)("a") ++ Seq.fill(500)("b") ++ Seq.fill(400)("c") ++
        Seq.fill(300)("d") ++ (0 until 2000).map(i => s"tail$i"))
    val truth = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = stream.size.toLong
    // three adversarial topologies: one stream, many tiny partials
    // merged left-to-right, and a random binary merge tree
    def reduceAll(xs: Seq[String]): TopKBuf = {
      val b = xs.foldLeft(agg.zero) { (b, x) =>
        val nb = agg.reduce(b, x)
        assert(nb.entries.length <= cap, "buffer exceeded capacity")
        nb
      }
      b
    }
    def randomTree(parts: Seq[TopKBuf]): TopKBuf =
      if (parts.size == 1) parts.head
      else {
        val i = rnd.nextInt(parts.size - 1)
        randomTree(parts.patch(i, Seq(agg.merge(parts(i), parts(i + 1))), 2))
      }
    val summaries = Seq(
      reduceAll(stream),
      stream.grouped(97).map(reduceAll).reduceLeft(agg.merge),
      randomTree(stream.grouped(61).map(reduceAll).toSeq))
    summaries.foreach { s =>
      assert(s.entries.length <= cap)
      val got = s.entries.map(e => e.k -> e).toMap
      // guaranteed presence above N/cap (hot keys are all way above)
      Seq("a", "b", "c", "d").foreach { k =>
        assert(truth(k) > n / cap, "fixture must place hot keys above N/cap")
        assert(got.contains(k), s"hot key $k missing from summary")
      }
      // overestimate + bracket for every surviving counter
      got.foreach { case (k, e) =>
        val t = truth.getOrElse(k, 0L)
        assert(e.c >= t, s"$k: counter ${e.c} underestimates true $t")
        assert(e.c - e.e <= t, s"$k: bracket ${e.c}-${e.e} exceeds true $t")
      }
    }
  }

  test("m20 frameAudio: closed-form frames on a gated square, corrupt sentinel") {
    val (n, na, amp, p, f) = (800, 500, 1000, 7, 160)
    val wav = MediaPipeline.renderGatedSquareWav(n, na, 8000, amp, p)
    val frames = MediaPipeline.frameAudio(7L, wav, f)
    assert(frames.length == n / f)
    frames.foreach { fr =>
      val s = fr.frame_idx * f
      val active = math.max(0, math.min(f, na - s))
      assert(fr.energy == active.toLong * amp * amp)
      val zc = math.max(0L,
        (math.min(s + f, na) - 1) / p - s / p)
      assert(fr.zero_crossings == zc,
        s"frame ${fr.frame_idx}: zc ${fr.zero_crossings} want $zc")
      assert(fr.voiced == (2 * active > f))
      assert(fr.decode_ok)
    }
    // fully-voiced head frame and fully-silent tail frame both exist
    assert(frames.head.voiced && !frames.last.voiced)
    val bad = MediaPipeline.frameAudio(8L, wav.drop(1), f)
    assert(bad == Seq(MediaPipeline.AudioFrame(8L, -1, -1, -1L, -1L,
      voiced = false, decode_ok = false)))
  }

  test("d40 CDC realignment theorem: boundaries past the edit shift by exactly the edit length") {
    // for any text, a 7-char prefix insertion leaves every boundary
    // i >= 15 of the revision equal to an original boundary + 7 (the
    // 8-char window has fully re-synchronized); fixed-size boundaries
    // share nothing (7 is not a multiple of the chunk length)
    val text = Tables.load(spark, sfDir, "documents")
      .filter($"n_chars" >= 200).select($"text").as[String].head()
    def bounds(s: String): Seq[Int] =
      (8 until s.length).filter { i =>
        // same window hash the query computes, locally
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(s.substring(i - 8, i).getBytes("UTF-8"))
        f"${md(0) & 0xff}%02x" < "08"
      }
    val orig = bounds(text)
    val rev = bounds("PATCH: " + text)
    assert(orig.nonEmpty, "fixture text produced no CDC boundaries")
    assert(rev.filter(_ >= 15) == orig.filter(_ >= 8).map(_ + 7),
      "downstream boundaries must realign at +7")
  }

  test("m21 resizeImage: NN closed form on a split PNG, corrupt sentinel") {
    val (w, h, a, b) = (34, 20, 0x112233, 0xAABBCC)
    val png = MediaPipeline.renderSplitPng(w, h, a, b)
    val t = MediaPipeline.resizeImage(5L, png, tw = 8, th = 8)
    val na = (0 until 8).count(x => (2 * x + 1) * w / 16 < w / 2)
    def luma(rgb: Int) = 299L * ((rgb >> 16) & 0xff) +
      587L * ((rgb >> 8) & 0xff) + 114L * (rgb & 0xff)
    assert(t == MediaPipeline.ThumbFeatures(5L, w, h,
      8L * (na * luma(a) + (8 - na) * luma(b)), 8L * na, decode_ok = true))
    // mixed thumbnail: neither all-left nor all-right
    assert(na > 0 && na < 8)
    val bad = MediaPipeline.resizeImage(6L, png.drop(1), tw = 8, th = 8)
    assert(bad == MediaPipeline.ThumbFeatures(6L, -1, -1, -1L, -1L,
      decode_ok = false))
  }

  test("m27 strip render/decode closed form: 16 sums of 8000*gray, corrupt sentinel") {
    val grays = Array(1, 255, 128, 97, 159, 42, 200, 7,
      130, 126, 64, 192, 33, 250, 101, 88)
    val png = MediaPipeline.renderStripPng(64, 16, grays)
    val sums = MediaPipeline.decodeGridStrips(9L, png)
    assert(sums.toSeq == grays.toSeq.map(g => 8000L * g),
      s"strip sums diverged from the closed form: ${sums.toSeq}")
    assert(MediaPipeline.decodeGridStrips(10L, png.drop(1)).toSeq ==
      Seq.fill(16)(-1L), "corrupt bytes must sentinel")
  }

  test("m27 learned cross-modal signal: the probe text retrieves its OWN image at rank 1") {
    // the md5 stub encoder cannot do this — there is no relation
    // between a text's hash vector and its stub image embedding; the
    // TRAINED projector recovers the pair plant's affine map well
    // enough that the query text's paired image wins with a margin
    val out = QueryDef.registry.find(_.name == "m27_crossmodal_trained").get
      .build(spark, sfDir)
      .select($"rk", $"media_id", $"cosine")
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    val docs = Tables.load(spark, sfDir, "documents")
      .filter($"doc_id" % 4 === 1)
    val probe = operators.TextQueries.hashVec16(docs, "doc_id", "text")
      .filter($"l2" > 0).agg(min($"doc_id")).head().getLong(0)
    assert(out.head._2 == probe,
      s"rank 1 is ${out.head._2}, not the probe's own image $probe")
    assert(out(0)._3 > out(1)._3 + 0.01,
      s"no separation margin: ${out(0)._3} vs ${out(1)._3}")
  }

  test("q94 integer PageRank reproduces a hand-computed 3-node example") {
    // nodes {0,1,2}, edges 0->1, 0->2, 1->2, 2->0; deg(0)=2, deg(1)=1,
    // deg(2)=1; two hand-computed rounds of r' = 150000 + sum((r*17)
    // div (20*deg))
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 0L))
      .toDF("src", "dst")
    val r1 = operators.ExtendedQueries.pageRank(edges, 1)
      .as[(Long, Long)].collect().toMap
    assert(r1 == Map(0L -> 1000000L, 1L -> 575000L, 2L -> 1425000L))
    val r2 = operators.ExtendedQueries.pageRank(edges, 2)
      .as[(Long, Long)].collect().toMap
    assert(r2 == Map(0L -> 1361250L, 1L -> 575000L, 2L -> 1063750L))
  }

  test("q98 triangle counter reproduces a hand-computed two-component graph") {
    // K4 on {1,2,3,4} (4 triangles) + pendant (4,5) + path 5-6-7 (wedges,
    // no triangle) + separate triangle {8,9,10} — 12 edges, 5 triangles;
    // oriented and brute-force counts must agree on the same row
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L), (6L, 7L),
      (8L, 9L), (8L, 10L), (9L, 10L)).toDF("a", "b")
    val r = operators.ExtendedQueries.triangleCount(edges)
      .as[(Long, Long, Long, Long, Boolean)].collect()
    assert(r.length == 1)
    val (ne, _, tri, brute, ok) = r.head
    assert(ne == 12L && tri == 5L && brute == 5L && ok,
      s"hand graph miscounted: $r")
  }

  test("wordpieceTrain: likelihood argmax diverges from BPE's count argmax") {
    // pairs: (a,##b) count 5, (c,##d) count 2; symbols a/##b:5, c/##d:2.
    // BPE-by-count would merge (a,##b) first; the likelihood objective
    // scores 5/(5·5)=0.2 vs 2/(2·2)=0.5 and merges (c,##d) first —
    // the defining difference between the families
    val docs = Seq("ab ab ab ab ab cd cd").toDF("text")
    val m1 = graft.functions.TextFunctions.wordpieceTrain(docs, "text", 1)
    assert(m1 == Seq(("c", "##d", 2L, "cd")), s"first merge: $m1")
    // after cd fuses, (a,##b) is the only candidate left
    val m2 = graft.functions.TextFunctions.wordpieceTrain(docs, "text", 2)
    assert(m2 == Seq(("c", "##d", 2L, "cd"), ("a", "##b", 5L, "ab")),
      s"merge order: $m2")
    // minCount floors hapax pairs out of candidacy entirely
    val hapax = Seq("xy ab ab").toDF("text")
    val m3 = graft.functions.TextFunctions.wordpieceTrain(hapax, "text", 2)
    assert(m3 == Seq(("a", "##b", 2L, "ab")), s"hapax floor: $m3")
  }

  test("dx35 sample consistency: the unit hash selects the same users in any table") {
    // ClickHouse's SAMPLE-BY join-coherence claim: sampling EVENTS and
    // sampling a USERS dim by the same key keeps per-user histories
    // whole — sample(join) == join(sample, sample)
    val ev = Tables.events(spark, sfDir)
      .withColumn("sk", substring(md5($"user_id".cast("string")), 1, 1))
    val users = ev.select($"user_id").distinct()
      .withColumn("tier", $"user_id" % 3)
      .withColumn("sk", substring(md5($"user_id".cast("string")), 1, 1))
    val sampledJoin = ev.filter($"sk" < "4").drop("sk")
      .join(users.filter($"sk" < "4").drop("sk"), "user_id")
    val joinSampled = ev.drop("sk").join(users.drop("sk"), "user_id")
      .withColumn("sk", substring(md5($"user_id".cast("string")), 1, 1))
      .filter($"sk" < "4").drop("sk")
    assert(sampledJoin.count() == joinSampled.count())
    assert(sampledJoin.exceptAll(joinSampled).isEmpty &&
      joinSampled.exceptAll(sampledJoin).isEmpty)
  }

  test("no oracle-checked query emits a raw array/map/struct output column") {
    // The driver's comparator pandas-sorts every output column; a raw
    // ARRAY/MAP/STRUCT column is unhashable there and nulls out the whole
    // row/schema/hash check (round-9: c15/c17/q74 shipped red this way).
    // Complex types are fine INSIDE the plan — the contract is only that
    // the final projection serializes them (concat_ws(',', cast(... as
    // array<string>)) on the Spark side, array_to_string on the oracle
    // side — the q64 pattern).
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val offenders = QueryDef.registry.filter(_.oracle.isDefined).flatMap { q =>
      val bad = q.build(spark, sfDir).schema.fields.collect {
        case f if f.dataType.isInstanceOf[ArrayType] ||
          f.dataType.isInstanceOf[MapType] ||
          f.dataType.isInstanceOf[StructType] => s"${q.name}.${f.name}"
      }
      bad
    }
    assert(offenders.isEmpty,
      s"unserialized complex output columns (driver comparator will crash): " +
        offenders.mkString(", "))
  }

  test("m26 MP4 walk: hand-built streams cover clean/corrupt/short-box/truncated edges") {
    import graft.sources.MediaPipeline
    def bytes(n: Int)(f: java.nio.ByteBuffer => Unit): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(n); f(bb); bb.array()
    }
    val ftyp = bytes(20) { bb =>
      bb.putInt(20); bb.put("ftyp".getBytes("US-ASCII"))
      bb.put("isom".getBytes("US-ASCII")); bb.putInt(512)
      bb.put("mp42".getBytes("US-ASCII"))
    }
    def mdat(p: Int) = bytes(8 + p) { bb =>
      bb.putInt(8 + p); bb.put("mdat".getBytes("US-ASCII"))
    }
    val badType = ftyp.clone()
    "xxxx".getBytes("US-ASCII").copyToArray(badType, 4)
    // nc=7: k=4, ts=607, dur=21, payloads 8/18/28/38 → mdat=92, boxes 6
    val full = MediaPipeline.renderMp4Stream(1L, 7L)
    val minimal = ftyp ++ mdat(3)
    val cases = Seq(
      // (id, stream, nbox, mdat, ts, dur, brand, status)
      (1L, full, 6L, 92L, 607L, 21L, "isom", "end"),
      (2L, full.drop(1), -1L, -1L, -1L, -1L, "?", "corrupt"),
      (3L, minimal, 2L, 3L, -1L, -1L, "isom", "end"),
      (4L, badType ++ mdat(3), -1L, -1L, -1L, -1L, "?", "corrupt"),
      // an 8-byte field claiming size 4: under-sized box mid-walk
      (5L, ftyp ++ bytes(8) { bb =>
        bb.putInt(4); bb.put("mdat".getBytes("US-ASCII")) },
        -1L, -1L, -1L, -1L, "?", "corrupt"),
      // last mdat's payload overruns EOF: complete boxes kept
      (6L, full.dropRight(5), 5L, 54L, 607L, 21L, "isom", "truncated"),
      // EOF inside the next box HEADER (can't even read size/type)
      (7L, minimal.dropRight(7), 1L, 0L, -1L, -1L, "isom", "truncated"))
    val got = cases.map(c => (c._1, c._2)).toDF("id", "mp4")
      .withColumn("w", expr(MediaPipeline.mp4WalkExpr("mp4", 8)))
      .select($"id", $"w.nbox", $"w.mdat", $"w.ts", $"w.dur", $"w.brand",
        $"w.status")
      .as[(Long, Long, Long, Long, Long, String, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6, r._7))).toMap
    cases.foreach { case (id, _, nb, md, ts, du, br, st) =>
      assert(got(id) == ((nb, md, ts, du, br, st)), s"case $id: ${got(id)}")
    }
  }

  test("m25 training demonstrably learns: cold start is the class prior, trained separates") {
    val out = QueryDef.registry.find(_.name == "m25_trained_media_classifier").get
      .build(spark, sfDir)
      .select($"label", $"predicted").as[(Boolean, Boolean)].collect()
    val n = out.length
    assert(n == 500)
    // cold start (w = 0): z_micro = 0 ⇒ everything predicted positive ⇒
    // accuracy would be exactly the positive-class fraction (~0.5)
    val positives = out.count(_._1).toDouble
    assert(positives / n > 0.4 && positives / n < 0.6, "class plant skewed")
    val acc = out.count(o => o._1 == o._2).toDouble / n
    assert(acc >= 0.9,
      s"trained accuracy $acc — no better than guessing the prior")
    // solids (f1 = 0 exactly) must ALL be classified negative: the
    // learned bias/luma weights put the zero-signal class below 0
    assert(out.filter(!_._1).forall(!_._2), "a solid predicted positive")
  }

  test("s41 insert invariants: out-degree M, caps hold, back-edges land, no dupes") {
    val g = operators.SimilarityQueries.hnswInsertedGraph(spark, sfDir)
      .select($"src", $"dst").as[(Long, Long)].collect()
    val batch = operators.SimilarityQueries.insertBatch.toSet
    val bySrc = g.groupBy(_._1)
    // every inserted node linked at full degree M
    batch.foreach(x =>
      assert(bySrc(x).length == 4, s"inserted node $x out-degree != M"))
    // the cap held everywhere (recapped neighbors included) and no
    // (src, dst) duplicates / self-edges slipped in
    bySrc.foreach { case (s0, es) =>
      assert(es.length <= 4, s"src $s0 over the M cap: ${es.length}")
      assert(es.map(_._2).distinct.length == es.length, s"dup edge at $s0")
    }
    assert(!g.exists(e => e._1 == e._2), "self edge")
    // at least one neighbor kept each new node's back-edge: in-degree
    // >= 1, so the node is reachable and serving can ever return it
    val indeg = g.groupBy(_._2).view.mapValues(_.length).toMap
    batch.foreach(x =>
      assert(indeg.getOrElse(x, 0) >= 1, s"inserted node $x unreachable"))
  }

  test("s41 serving parity: insert-maintained graph answers the standard query like the full rebuild") {
    // the s15/d28 convention at the level a graph index can honor it:
    // HNSW insert builds a DIFFERENT (locally-optimal) edge set than a
    // from-scratch band build, so graph equality is not the contract —
    // the SERVING answer is. The standard query beam over the
    // insert-maintained graph must match s38's beam over the
    // from-scratch union-corpus store.
    val viaInsert = operators.SimilarityQueries.beamTop10Over(spark, sfDir,
      operators.SimilarityQueries.hnswInsertedGraph(spark, sfDir)
        .select($"src", $"dst"))
      .as[(Long, Double)].collect().toSeq
    val rebuild = QueryDef.registry.find(_.name == "s38_graph_beam_search").get
      .build(spark, sfDir)
      .select($"vec_id", $"cosine").as[(Long, Double)].collect().toSeq
    assert(viaInsert == rebuild,
      s"insert-maintained serving diverged from the rebuild:\n" +
        s"insert=$viaInsert\nrebuild=$rebuild")
  }

  test("s44 batch-of-1 equals sequential insert exactly (edge-set equality)") {
    // the frozen-beam batch semantics reduce to s41's sequential
    // semantics at B=1: same beam (one query, same frozen base), same
    // top-M neighborhood, and the merge's pinned-first recap selects
    // the same edge set as sequential's recapBest/recapOthers split.
    // Shared baseTag → both sides read the SAME stored base graph.
    def edges(df: org.apache.spark.sql.DataFrame) = df
      .select($"src", $"dst", $"gcos").as[(Long, Long, Double)]
      .collect().toSet
    val bulk = edges(operators.SimilarityQueries.bulkInsertedGraphBuild(
      spark, sfDir, batch = Seq(11L), baseTag = "s44_eq1"))
    val seq1 = edges(operators.SimilarityQueries.hnswInsertedGraphBuild(
      spark, sfDir, batch = Seq(11L), baseTag = "s44_eq1"))
    assert(bulk == seq1,
      s"batch-of-1 diverged from sequential:\nonly-bulk=${bulk -- seq1}" +
        s"\nonly-seq=${seq1 -- bulk}")
  }

  test("s44 bulk-ingest invariants: out-degree M, caps hold, every new node reachable, no dupes") {
    val g = operators.SimilarityQueries.bulkInsertedGraph(spark, sfDir)
      .select($"src", $"dst").as[(Long, Long)].collect()
    val batch = operators.SimilarityQueries.bulkBatch.toSet
    val bySrc = g.groupBy(_._1)
    batch.foreach(x =>
      assert(bySrc(x).length == 4, s"inserted node $x out-degree != M"))
    bySrc.foreach { case (s0, es) =>
      assert(es.length <= 4, s"src $s0 over the M cap: ${es.length}")
      assert(es.map(_._2).distinct.length == es.length, s"dup edge at $s0")
    }
    assert(!g.exists(e => e._1 == e._2), "self edge")
    // the pin: every batch vector keeps >= 1 incoming edge — even when
    // several batch members offered to the same source, pinned offers
    // outrank every natural edge in the recap
    val indeg = g.groupBy(_._2).view.mapValues(_.length).toMap
    batch.foreach(x =>
      assert(indeg.getOrElse(x, 0) >= 1, s"inserted node $x unreachable"))
  }

  test("s44 serving parity: bulk-maintained graph answers the standard query like the full rebuild") {
    val viaBulk = operators.SimilarityQueries.beamTop10Over(spark, sfDir,
      operators.SimilarityQueries.bulkInsertedGraph(spark, sfDir)
        .select($"src", $"dst"))
      .as[(Long, Double)].collect().toSeq
    val rebuild = QueryDef.registry.find(_.name == "s38_graph_beam_search").get
      .build(spark, sfDir)
      .select($"vec_id", $"cosine").as[(Long, Double)].collect().toSeq
    assert(viaBulk == rebuild,
      s"bulk-maintained serving diverged from the rebuild:\n" +
        s"bulk=$viaBulk\nrebuild=$rebuild")
  }

  test("s45 delete invariants: masked traversal, untouched rows preserved, caps hold") {
    val SQ = operators.SimilarityQueries
    val view = SQ.deletedRepairedStore(spark, sfDir).read()
      .select($"src", $"dst", $"gcos").as[(Long, Long, Double)].collect()
    val del = SQ.deleteBatch.toSet
    // masked traversal: zero edges incident to a deleted vector
    assert(!view.exists(e => del(e._1) || del(e._2)),
      "a deleted-incident edge survived the masked read")
    // caps + no dupes / self-edges anywhere in the repaired graph
    view.groupBy(_._1).foreach { case (s0, es) =>
      assert(es.length <= 4, s"src $s0 over the M cap: ${es.length}")
      assert(es.map(_._2).distinct.length == es.length, s"dup edge at $s0")
    }
    assert(!view.exists(e => e._1 == e._2), "self edge")
    // the store view decomposes exactly: touched sources serve the
    // repair output, untouched survivors serve their pre-delete rows
    val rep = SQ.deleteRepairBuild(spark, sfDir)
      .as[(Long, Long, Double)].collect().toSet
    val touched = rep.map(_._1)
    assert(view.filter(e => touched(e._1)).toSet == rep,
      "touched sources' served lists != the repair output")
    val pre = SQ.servingGraph(spark, sfDir)
      .as[(Long, Long, Double)].collect()
    val untouchedPre = pre.filter(e => !del(e._1) && !del(e._2) &&
      !touched(e._1)).toSet
    assert(view.filter(e => !touched(e._1)).toSet == untouchedPre,
      "an untouched survivor's row changed under delete+repair")
    // every touched source got repaired back to a non-empty list
    val preTouched = pre.filter(e => del(e._2) && !del(e._1)).map(_._1).toSet
    assert(preTouched == touched,
      s"repair touched-set mismatch: ${preTouched.diff(touched)} unrepaired")
  }

  test("s45 serving parity: repaired graph answers the surviving-corpus query like the survivor rebuild") {
    // the s18 delete ≡ rebuild-on-survivors discipline at the level a
    // graph index can honor it (the s41 convention): local repair
    // builds a DIFFERENT edge set than a from-scratch survivor band
    // build, so graph equality is not the contract — the SERVING
    // answer is. Deleted ids must be unservable through either.
    val SQ = operators.SimilarityQueries
    val del = SQ.deleteBatch.toSet
    val viaRepair = SQ.beamTop10Over(spark, sfDir,
      SQ.deletedRepairedStore(spark, sfDir).read().select($"src", $"dst"))
      .as[(Long, Double)].collect().toSeq
    val viaRebuild = SQ.beamTop10Over(spark, sfDir,
      SQ.survivorRebuildGraph(spark, sfDir).select($"src", $"dst"))
      .as[(Long, Double)].collect().toSeq
    assert(viaRepair.forall(r => !del(r._1)), "a deleted id was served")
    assert(viaRepair == viaRebuild,
      s"repaired serving diverged from the survivor rebuild:\n" +
        s"repair=$viaRepair\nrebuild=$viaRebuild")
  }

  test("s46 multi-layer insert invariants: level rule honored, caps hold per layer, reachability") {
    val SQ = operators.SimilarityQueries
    val g = SQ.mlInsertedGraph(spark, sfDir)
      .select($"layer", $"src", $"dst").as[(Int, Long, Long)].collect()
    val batch = SQ.mlInsertBatch.toSet
    val l0 = g.filter(_._1 == 0).map(e => (e._2, e._3))
    val l1 = g.filter(_._1 == 1).map(e => (e._2, e._3))
    // LEVEL RULE: level-0 batch members appear nowhere above level 0,
    // and the upper layer holds only 1-mod-8 subsample nodes
    val lvl0 = batch.filter(SQ.mlLevel(_) == 0)
    assert(!l1.exists(e => lvl0(e._1) || lvl0(e._2)),
      "a level-0 vector leaked into the upper layer")
    assert(l1.forall(e => e._1 % 8 == 1 && e._2 % 8 == 1),
      "non-subsample node in the upper layer")
    // per-layer: full out-degree for the members inserted there, caps,
    // no dupes/self edges, and every inserted member stays reachable
    Seq((l0, batch), (l1, batch.filter(SQ.mlLevel(_) >= 1)))
      .foreach { case (layer, members) =>
        val bySrc = layer.groupBy(_._1)
        members.foreach(x =>
          assert(bySrc(x).length == 4, s"inserted node $x out-degree != M"))
        bySrc.foreach { case (s0, es) =>
          assert(es.length <= 4, s"src $s0 over the M cap: ${es.length}")
          assert(es.map(_._2).distinct.length == es.length, s"dup at $s0")
        }
        assert(!layer.exists(e => e._1 == e._2), "self edge")
        val indeg = layer.groupBy(_._2).view.mapValues(_.length).toMap
        members.foreach(x =>
          assert(indeg.getOrElse(x, 0) >= 1, s"inserted node $x unreachable"))
      }
  }

  test("s46 serving parity: insert-maintained layer pair answers the descent like s40's full rebuild") {
    val SQ = operators.SimilarityQueries
    val ml = SQ.mlInsertedGraph(spark, sfDir)
    val viaInsert = SQ.descentTop10Over(spark, sfDir,
      ml.filter($"layer" === 0).select($"src", $"dst"),
      ml.filter($"layer" === 1).select($"src", $"dst"))
      .as[(Long, Double)].collect().toSeq
    val rebuild = QueryDef.registry
      .find(_.name == "s40_hnsw_layered_descent").get
      .build(spark, sfDir)
      .select($"vec_id", $"cosine").as[(Long, Double)].collect().toSeq
    assert(viaInsert == rebuild,
      s"insert-maintained descent diverged from the rebuild:\n" +
        s"insert=$viaInsert\nrebuild=$rebuild")
  }

  test("graph store memo keys on every build input: a one-vector batch never reuses the four-vector base") {
    // the s41 base store excludes the insert batch; the same tag built
    // for a different batch must be a different store, not a reuse of
    // whichever exclude set happened to build first
    val SQ = operators.SimilarityQueries
    def edges(df: org.apache.spark.sql.DataFrame) = df
      .select($"src", $"dst", $"gcos").as[(Long, Long, Double)]
      .collect().toSet
    SQ.hnswInsertedGraphBuild(spark, sfDir)
    val sameTag = edges(SQ.hnswInsertedGraphBuild(spark, sfDir,
      batch = Seq(11L)))
    val freshTag = edges(SQ.hnswInsertedGraphBuild(spark, sfDir,
      batch = Seq(11L), baseTag = "s41_memo_probe"))
    val (onlySame, onlyFresh) = (sameTag -- freshTag, freshTag -- sameTag)
    assert(onlySame.isEmpty && onlyFresh.isEmpty,
      s"batch-of-1 insert read a stale base store: " +
        s"${onlySame.size} edges only under the shared tag, " +
        s"${onlyFresh.size} only under a fresh tag")
  }

  test("store memo: a warm call reuses its root with no Spark job; a reaped root rebuilds identically") {
    import graft.storage.FactTable
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    def store(inputs: Any*): String =
      TempDirs.store("memo_probe", sfDir +: inputs: _*) { r =>
        builds.incrementAndGet()
        new FactTable(r, spark).append(
          spark.read.parquet(s"$sfDir/embeddings.parquet")
            .select($"vec_id", $"label")
            .withColumn("date", to_date(lit("2024-01-01"))), 0)
      }
    def rows(root: String) = new FactTable(root, spark).read()
      .select($"vec_id", $"label").orderBy($"vec_id").collect().toSeq
    val root = store()
    val before = rows(root)
    val (again, jobs) = TestSpark.jobsDuring(store())
    assert(again == root, "a warm call did not reuse the memoized root")
    assert(jobs == 0, s"a warm call started $jobs Spark jobs")
    assert(builds.get == 1)
    // another key under the same tag is another store, and building it
    // leaves the first one live
    val other = store("other")
    assert(other != root && builds.get == 2)
    assert(store() == root, "a second key reaped the first key's store")
    // reap the root behind the memo's back (tmp cleanup)
    val dir = new java.io.File(root)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    rm(dir)
    assert(!dir.exists())
    val rebuilt = store()
    assert(builds.get == 3, "a reaped store was not rebuilt")
    assert(rebuilt != root && new java.io.File(rebuilt).exists())
    assert(rows(rebuilt) == before, "the rebuilt store's rows differ")
  }
}
