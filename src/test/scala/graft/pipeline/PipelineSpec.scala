package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.TextFunctions
import graft.telemetry.{Events, EventsSpec}

/** Dedup / similarity pipeline invariants. */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("minhashNearDups finds exact dups, leaves no cache entries behind") {
    spark.sharedState.cacheManager.clearCache()
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"), // identical → jaccard 1.0
      (3L, "totally different words here now"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text")
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L })
    // the shingle cache's lifecycle is internal: nothing persists after
    assert(spark.sharedState.cacheManager.isEmpty,
      "minhashNearDups leaked a cached relation")
  }

  test("langIdNgram: profile argmax; sub-trigram and no-hit texts fall back to und") {
    val docs = Seq(
      (1L, "the theory of the thing"),  // en trigrams dominate
      (2L, "der und ein ich dich"),     // de
      (3L, "ab"),                       // < 3 chars: zero grams (sequence guard)
      (4L, "zzzz qqqq xxxx"))           // grams exist, none in any profile
      .toDF("doc_id", "text")
    val profiles = TextMetrics.trigramProfiles.toDF("lang", "ngram", "weight")
    val out = TextMetrics.langIdNgram(docs, "doc_id", "text", profiles)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out(1L)._1 == "en")
    assert(out(2L)._1 == "de")
    assert(out(3L) == (("und", 0L)))
    assert(out(4L) == (("und", 0L)))
  }

  test("embeddingNearDups: same-bucket pairs above threshold, a<b, bucket misses stay out") {
    // components exact in binary so the quantized dots are exact
    val vecs = Seq(
      (1L, Array(0.5, 0.75, 0.0)),   // bucket 3 (nBits=2: both signs +)
      (2L, Array(0.5, 0.75, 0.0)),   // identical to 1 → dot_q 812.5e9
      (3L, Array(0.75, 0.5, 0.0)),   // bucket 3, dot with 1/2 = 750e9
      (4L, Array(-0.5, 0.75, 0.0)))  // bucket 2 — alone, never a candidate
      .toDF("vec_id", "embedding")
    val strict = Dedup.embeddingNearDups(vecs, "vec_id", "embedding",
      minDotQ = 800000000000L, nBits = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(strict == Set((1L, 2L, 812500000000L)))
    val loose = Dedup.embeddingNearDups(vecs, "vec_id", "embedding",
      minDotQ = 700000000000L, nBits = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(loose == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // vec 4's nearest (dot 281.25e9 with 1/2) is in another bucket:
    // LSH recall trade — it must NOT appear even at threshold 0
    val all = Dedup.embeddingNearDups(vecs, "vec_id", "embedding",
      minDotQ = Long.MinValue, nBits = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!all.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("staged simhashBuckets equals the expression-level simhashBits") {
    val docs = Seq((1L, "alpha beta gamma alpha"), (2L, "delta epsilon"),
      (3L, "zeta"), (4L, "alpha beta gamma alpha")).toDF("doc_id", "text")
    val staged = Dedup.simhashBuckets(docs, "doc_id", "text", nBits = 60)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val direct = docs.select(col("doc_id"),
      TextFunctions.simhashBits(TextFunctions.tokenize(col("text")), 60).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(staged == direct)
    // identical texts share a fingerprint; all fingerprints sign-safe
    assert(staged(1L) == staged(4L))
    assert(staged.values.forall(_ >= 0L))
  }

  test("canonical dedup collapses case/punctuation/whitespace variants") {
    val docs = Seq(
      (1L, "Hello,  World!"), (2L, "hello world"), (3L, "HELLO ... world"),
      (4L, "goodbye world")).toDF("doc_id", "text")
    val out = Dedup.exactCanonical(docs, "doc_id", "text")
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(out == Map(1L -> 3L, 4L -> 1L)) // 1,2,3 collapse; keeper = min id
  }

  test("l2normalize yields unit vectors, zero vector passes through") {
    import graft.functions.VectorFunctions
    val df = Seq((1L, Array(3.0f, 4.0f)), (2L, Array(0.0f, 0.0f)))
      .toDF("id", "v")
      .select(col("id"), VectorFunctions.l2normalize(col("v")).as("n"))
    val m = df.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(math.abs(m(1L).map(x => x * x).sum - 1.0) < 1e-12)
    assert(m(2L).forall(_ == 0.0))
  }

  test("nearDupClusters: transitive closure to min-id clusters, one keeper each") {
    val docs = (1L to 8L).toDF("doc_id")
    // components: {1,2,3,4} via chain, {6,7}, singletons {5}, {8}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (6L, 7L))
      .toDF("doc_a", "doc_b")
    val out = Dedup.nearDupClusters(docs, pairs, "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out(1L) == (1L, true) && out(2L) == (1L, false) &&
      out(3L) == (1L, false) && out(4L) == (1L, false))
    assert(out(6L) == (6L, true) && out(7L) == (6L, false))
    assert(out(5L) == (5L, true) && out(8L) == (8L, true))
  }

  test("nearDupClusters: pointer jump converges a long chain in O(log d) rounds") {
    // 256-hop path with the min id at one end: plain min-label
    // propagation needs ~255 rounds; the per-round pointer jump
    // (label := label[label]) composes resolved depth, so 12 rounds
    // must suffice — if the jump is ever removed, this call THROWS at
    // maxIters and the q207-class sweep regression is caught here.
    val n = 256L
    val docs = (0L until n).toDF("doc_id")
    val pairs = (0L until n - 1).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val out = Dedup.nearDupClusters(docs, pairs, "doc_id", maxIters = 12)
      .collect()
    assert(out.length == n)
    assert(out.forall(_.getLong(1) == 0L))
    assert(out.count(_.getBoolean(2)) == 1)
  }

  test("nearDupClusters refuses loudly when maxIters cannot converge a long chain") {
    val docs = (0L until 64L).toDF("doc_id")
    val pairs = (0L until 63L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val e = intercept[IllegalStateException] {
      Dedup.nearDupClusters(docs, pairs, "doc_id", maxIters = 1)
    }
    assert(e.getMessage == "nearDupClusters did not converge after 1 rounds")
  }

  test("multimodal: resize emits fixed-size payloads, frame sampling fans out rows") {
    val docs = Seq((1L, "x" * 64), (2L, "y" * 100), (3L, ""))
      .toDF("doc_id", "text")
    val media = Multimodal.asMedia(docs, "doc_id", "text")
      .as[Multimodal.MediaRecord]
    // REAL resize: synthetic PNGs decode → NN-downsample → re-encode;
    // the resized pixels must equal the generator formula at the
    // nearest-neighbor source coordinates
    val pngs = Multimodal.syntheticPngs(docs, "doc_id")
    val resized = Multimodal.resizeImages(pngs, factor = 2).collect()
      .map(r => r.media_id -> r.payload).toMap
    resized.foreach { case (id, bytes) =>
      val (w, h) = Multimodal.pngDims(id)
      val (wr, hr) = (w / 2, h / 2)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      assert(img.getWidth == wr && img.getHeight == hr)
      for (x <- 0 until wr; y <- 0 until hr) {
        val (sx, sy) = (x * w / wr, y * h / hr)
        val expected = ((((id * 31 + sx * 7 + sy * 13) % 256) << 16) |
          (((id * 17 + sx * 11 + sy * 3) % 256) << 8) |
          ((id * 5 + sx * 23 + sy * 29) % 256)).toInt
        assert((img.getRGB(x, y) & 0xffffff) == expected,
          s"id=$id pixel ($x,$y)")
      }
    }
    // deterministic: resizing twice gives identical bytes
    val again = Multimodal.resizeImages(pngs, factor = 2).collect()
      .map(r => r.media_id -> r.payload).toMap
    assert(resized.view.mapValues(_.toSeq).toMap ==
      again.view.mapValues(_.toSeq).toMap)
    // 64 bytes / 16-byte frames = 4 frames; every 2nd -> frames 0 and 2
    val frames = Multimodal.sampleFrames(media, everyN = 2).collect()
      .groupBy(_.media_id).view.mapValues(_.map(_.frame_no).sorted.toSeq).toMap
    assert(frames(1L) == Seq(0, 2))
    assert(frames(2L) == Seq(0, 2, 4)) // 6 frames -> 0,2,4
    assert(!frames.contains(3L)) // empty payload: no frames
    // features feed the ANN pipeline shape
    val embs = Multimodal.asEmbeddings(Multimodal.extractFeatures(media))
    assert(embs.columns.toSeq == Seq("vec_id", "embedding"))
    assert(embs.count() == 3)
  }

  test("stratifiedSample: exact quotas, repartition-stable, salts draw independently") {
    val docs = (1L to 100L).map(i => (i, s"src${i % 3}")).toDF("doc_id", "source")
    val got = TextMetrics.stratifiedSample(docs, "doc_id", "source", quota = 10)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.groupBy(_._2).forall(_._2.length == 10))
    assert(got.groupBy(_._2).values.forall(
      _.map(_._3).sorted.toSeq == (1L to 10L)))
    // small group: quota bounded by group size
    val tiny = TextMetrics.stratifiedSample(
      docs.filter(col("doc_id") <= 5), "doc_id", "source", quota = 10)
    assert(tiny.count() == 5)
    // pure function of (salt, id): identical across partitionings;
    // a different salt picks a different subset
    val again = TextMetrics.stratifiedSample(docs.repartition(7),
      "doc_id", "source", quota = 10)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.toSet == again.toSet)
    val other = TextMetrics.stratifiedSample(docs, "doc_id", "source",
      quota = 10, salt = "other")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(other.map(_._1).toSet != got.map(_._1).toSet)
  }

  test("budgetTrim: greedy prefix fill; an oversized head doc blocks its source") {
    def doc(l: Int) = ("w " * l).trim
    // source a: 4 docs of 10 tokens; source b: one 100-token doc
    val docs = Seq(
      (1L, "a", doc(10)), (2L, "a", doc(10)), (3L, "a", doc(10)),
      (4L, "a", doc(10)), (5L, "b", doc(100)))
      .toDF("doc_id", "source", "text")
    // budget 70: a has 40/140 → floor 20, b has 100/140 → floor 50;
    // leftover 0 → alloc a=20, b=50
    val out = TextMetrics.budgetTrim(docs, "doc_id", "source", "text",
        budget = 70L)
      .collect().map(r => (r.getLong(0), r.getLong(4), r.getBoolean(5)))
    val kept = out.filter(_._3).map(_._1).toSet
    // a fills 2 docs (20 tokens); b's single 100-token doc exceeds its
    // 50 allocation → b keeps nothing (greedy prefix, no splitting)
    assert(out.filter(_._1 <= 4).head._2 == 20L)
    assert(kept.size == 2 && kept.forall(_ <= 4L))
    assert(!out.find(_._1 == 5L).get._3)
  }

  test("quantileNormalize maps within-source ranks to pooled percentile_disc values") {
    def doc(l: Int) = ("w " * l).trim
    val docs = Seq(
      (1L, "a", doc(1)), (2L, "a", doc(2)), (3L, "a", doc(3)), (4L, "a", doc(4)),
      (5L, "b", doc(10)), (6L, "b", doc(20)))
      .toDF("doc_id", "source", "text")
    val out = TextMetrics.quantileNormalize(docs, "doc_id", "source", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    // pooled sorted values: 1,2,3,4,10,20 (N=6)
    // source a rank r of 4 → pooled rank ceil(6r/4) = 2,3,5,6 → 2,3,10,20
    // source b rank r of 2 → pooled rank ceil(6r/2) = 3,6 → 3,20
    assert(out == Map(1L -> 2L, 2L -> 3L, 3L -> 10L, 4L -> 20L,
      5L -> 3L, 6L -> 20L))
  }

  test("lexicalTopK: identical docs score 1.0, disjoint docs never pair") {
    val docs = Seq(
      (1L, "apple banana"), (2L, "apple banana"),
      (3L, "apple cherry"), (4L, "zebra zebra"))
      .toDF("doc_id", "text")
    val tf = TextMetrics.termFrequencies(docs, "doc_id", "text")
    val out = TextMetrics.lexicalTopKFromTf(tf,
        docs.agg(count(lit(1)).as("n_docs")),
        docs.filter(col("doc_id") === 1L).select("doc_id"),
        "doc_id", k = 3, maxDfPct = 80)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    // doc 2 is byte-identical → cosine exactly 1.0 after the one
    // rounding; doc 3 shares only 'apple'; doc 4 shares nothing and
    // must not appear at all
    assert(out.map(t => (t._1, t._2)).toSeq == Seq((1L, 2L), (2L, 3L)))
    assert(out.head._3 == 1.0)
    assert(out(1)._3 > 0.0 && out(1)._3 < 1.0)
  }

  test("Hamming-1 probes recover one-boundary pairs; distance-0 set equals the plain join") {
    // ids 1,2: same bucket (near-dups, dist 0). ids 3,4: high cosine but
    // dim-1 sign straddles a boundary (dist 1) — the plain bucket join
    // MUST miss them, the probed join must recover them. id 5: far.
    val vecs = Seq(
      (1L, Array(0.9f, 0.9f, 0.9f, 0.9f)),
      (2L, Array(0.8f, 0.9f, 0.9f, 0.9f)),
      (3L, Array(0.001f, -0.9f, 0.9f, 0.9f)),
      (4L, Array(-0.001f, -0.9f, 0.9f, 0.9f)),
      (5L, Array(-0.9f, 0.9f, -0.9f, -0.9f))).toDF("vec_id", "embedding")
    def pairs(d: org.apache.spark.sql.DataFrame) =
      d.select("vec_a", "vec_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val minDot = 1500000000000L // cosine-ish: 3,4 dot ~ 1.62e12; 1,2 ~ 3.15e12
    val plain = pairs(Dedup.embeddingNearDups(vecs, "vec_id", "embedding",
      minDotQ = minDot, nBits = 4))
    val probed = Dedup.embeddingNearDupsProbed(vecs, "vec_id", "embedding",
      minDotQ = minDot, nBits = 4)
    assert(plain == Set((1L, 2L)))
    assert(pairs(probed) == Set((1L, 2L), (3L, 4L)))
    val dist = probed.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    assert(dist((1L, 2L)) == 0L && dist((3L, 4L)) == 1L)
  }

  test("multimodal dispatch: mixed media routes each modality through its real codec") {
    val docs = Seq((0L, "abc"), (1L, "de"), (2L, "fgh"), (3L, ""), (4L, "xy"))
      .toDF("doc_id", "text")
    val feats = Multimodal.extractFeatures(Multimodal.mixedMedia(docs, "doc_id"))
      .collect().map(f => f.media_id -> f).toMap
    assert(feats(0L).media_type == "image/png")
    assert(feats(1L).media_type == "audio/wav")
    assert(feats(2L).media_type == "application/octet-stream")
    // png arm decodes through ImageIO: feat = generator pixel sums
    val (w, h) = Multimodal.pngDims(3L)
    val px = for (x <- 0 until w; y <- 0 until h) yield (x, y)
    assert(feats(3L).feat(0) == w.toFloat && feats(3L).feat(1) == h.toFloat)
    assert(feats(3L).feat(2) ==
      px.map { case (x, y) => (3L * 31 + x * 7 + y * 13) % 256 }.sum.toFloat)
    assert(feats(3L).feat(4) ==
      px.map { case (x, y) => (3L * 5 + x * 23 + y * 29) % 256 }.sum.toFloat)
    // wav arm decodes through AudioSystem: feat = generator sample stats
    val n = Multimodal.wavSamples(1L)
    val samples = (0 until n).map(i => ((37 + i.toLong * 101) % 65536 - 32768).toInt)
    assert(feats(1L).feat(0) == n.toFloat && feats(1L).feat(1) == 8000f)
    assert(feats(1L).feat(2) == samples.min.toFloat)
    assert(feats(1L).feat(3) == samples.max.toFloat)
    assert(feats(1L).feat(4) == samples.sum.toFloat)
    // raw arm: container-level byte features
    assert(feats(2L).byte_len == 3 && feats(2L).first_byte == 'f'.toInt)
  }

  test("multimodal BMP: format twins share pixels, differ in bytes; pixel hash pairs them") {
    // genuine BMP container (magic 'BM'), pixel-exact roundtrip
    val bmp = Multimodal.encodeBmp(42L)
    assert(bmp(0) == 'B'.toByte && bmp(1) == 'M'.toByte)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bmp))
    val (w, h) = Multimodal.pngDims(42L)
    assert(img.getWidth == w && img.getHeight == h)
    for (x <- 0 until w; y <- 0 until h) {
      val expected = ((((42L * 31 + x * 7 + y * 13) % 256) << 16) |
        (((42L * 17 + x * 11 + y * 3) % 256) << 8) |
        ((42L * 5 + x * 23 + y * 29) % 256)).toInt
      assert((img.getRGB(x, y) & 0xffffff) == expected, s"pixel ($x,$y)")
    }
    // the dedup premise: byte hashes differ, pixel hashes agree
    val ids = Seq(10L, 11L, 12L, 13L).toDF("doc_id")
    val media = Multimodal.syntheticMixedFormat(ids, "doc_id")
    val byByte = media.collect()
      .map(m => m.media_id -> java.util.Arrays.hashCode(m.payload)).toMap
    assert(byByte(10L) != byByte(11L) && byByte(12L) != byByte(13L))
    val byPixel = Multimodal.pixelHashes(media).collect()
      .map(p => p.media_id -> p.pixel_md5).toMap
    assert(byPixel(10L) == byPixel(11L) && byPixel(12L) == byPixel(13L))
    assert(byPixel(10L) != byPixel(12L))
  }

  test("multimodal AIFF: big-endian twins share samples, differ in bytes; sample hash pairs them") {
    // genuine AIFF container (FORM magic), sample-exact roundtrip
    val aiff = Multimodal.encodeAiff(7L)
    assert(new String(aiff.take(4), "US-ASCII") == "FORM")
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(aiff))
    assert(ais.getFormat.isBigEndian)
    val bytes = ais.readAllBytes()
    val n = Multimodal.wavSamples(7L)
    assert(bytes.length == n * 2)
    for (i <- 0 until n) {
      val expected = ((7L * 37 + i.toLong * 101) % 65536 - 32768).toInt
      val got = ((bytes(2 * i) << 8) | (bytes(2 * i + 1) & 0xff)).toShort.toInt
      assert(got == expected, s"sample $i")
    }
    // dedup premise: byte hashes differ, canonical sample hashes agree
    val ids = Seq(20L, 21L).toDF("doc_id")
    val media = Multimodal.syntheticMixedAudio(ids, "doc_id")
    val byByte = media.collect()
      .map(m => m.media_id -> java.util.Arrays.hashCode(m.payload)).toMap
    assert(byByte(20L) != byByte(21L))
    val bySample = Multimodal.sampleHashes(media).collect()
      .map(p => p.media_id -> p.sample_md5).toMap
    assert(bySample(20L) == bySample(21L))
  }

  test("multimodal PNG: ImageIO encode→decode roundtrip matches the closed form") {
    val ids = Seq(0L, 1L, 7L, 42L, 123L)
    // payloads are genuine PNGs (magic bytes), not passthrough fakes
    val png = Multimodal.encodePng(42L)
    assert(png.take(8).map(_ & 0xff).toSeq ==
      Seq(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a))
    val docs = ids.toDF("doc_id")
    val out = Multimodal.decodeImages(Multimodal.syntheticPngs(docs, "doc_id"))
      .collect().map(d => d.media_id -> d).toMap
    for (id <- ids) {
      val (w, h) = Multimodal.pngDims(id)
      var (rs, gs, bs) = (0L, 0L, 0L)
      for (y <- 0 until h; x <- 0 until w) {
        rs += (id * 31 + x * 7 + y * 13) % 256
        gs += (id * 17 + x * 11 + y * 3) % 256
        bs += (id * 5 + x * 23 + y * 29) % 256
      }
      val d = out(id)
      assert((d.width, d.height) == (w.toLong, h.toLong), s"dims for id=$id")
      assert((d.r_sum, d.g_sum, d.b_sum) == ((rs, gs, bs)), s"sums for id=$id")
    }
  }

  test("multimodal WAV: AudioSystem encode→decode roundtrip matches the closed form") {
    val ids = Seq(0L, 1L, 7L, 42L, 123L)
    // payloads are genuine RIFF/WAVE containers, not passthrough fakes
    val wav = Multimodal.encodeWav(42L)
    assert(new String(wav.take(4), "US-ASCII") == "RIFF")
    assert(new String(wav.slice(8, 12), "US-ASCII") == "WAVE")
    val out = Multimodal.decodeAudio(
        Multimodal.syntheticWavs(ids.toDF("doc_id"), "doc_id"))
      .collect().map(d => d.media_id -> d).toMap
    for (id <- ids) {
      val n = Multimodal.wavSamples(id)
      val vs = (0 until n).map(i => ((id * 37 + i.toLong * 101) % 65536) - 32768)
      val d = out(id)
      assert(d.n_samples == n.toLong && d.sample_rate == 8000L, s"fmt for id=$id")
      assert((d.s_min, d.s_max, d.s_sum) == ((vs.min, vs.max, vs.sum)),
        s"stats for id=$id")
    }
  }

  test("multimodal audio: 2x decimation keeps even-index samples at half rate") {
    val ids = Seq(0L, 1L, 7L, 42L, 123L)
    val out = Multimodal.decodeAudio(Multimodal.decimateAudio(
        Multimodal.syntheticWavs(ids.toDF("doc_id"), "doc_id"), factor = 2))
      .collect().map(d => d.media_id -> d).toMap
    for (id <- ids) {
      val n = Multimodal.wavSamples(id)
      val vs = (0 until n by 2).map(i => ((id * 37 + i.toLong * 101) % 65536) - 32768)
      val d = out(id)
      assert(d.n_samples == ((n + 1) / 2).toLong, s"count for id=$id")
      assert(d.sample_rate == 4000L, s"rate for id=$id")
      assert((d.s_min, d.s_max, d.s_sum) == ((vs.min, vs.max, vs.sum)),
        s"stats for id=$id")
    }
  }

  test("multimodal GIF: animated encode→frame-sampled decode matches the closed form") {
    val ids = Seq(0L, 1L, 7L, 42L, 123L)
    // payloads are genuine GIF containers; every 2nd frame sampled
    val gif = Multimodal.encodeGif(42L)
    assert(new String(gif.take(4), "US-ASCII").startsWith("GIF8"))
    val out = Multimodal.decodeVideoFrames(
        Multimodal.syntheticGifs(ids.toDF("doc_id"), "doc_id"), everyN = 2)
      .collect().map(d => (d.media_id, d.frame_no) -> d).toMap
    for (id <- ids) {
      val (w, h) = Multimodal.gifDims(id)
      val frames = (0 until Multimodal.gifFrames(id) by 2)
      assert(out.keys.count(_._1 == id) == frames.size, s"frame count id=$id")
      for (f <- frames) {
        var sum = 0L
        for (y <- 0 until h; x <- 0 until w)
          sum += 85L * ((id + f * 7L + x * 3L + y * 5L) % 4)
        val d = out((id, f.toLong))
        assert((d.width, d.height, d.gray_sum) == ((w.toLong, h.toLong, sum)),
          s"frame stats id=$id f=$f")
      }
    }
  }

  test("IVF cells partition the corpus; probing own cell finds in-cell neighbours") {
    val rnd = new scala.util.Random(5)
    def vec() = Array.fill(8)(math.floor(rnd.nextGaussian() * 1000) / 1000.0f)
    val corpus = (0L until 60L).map(i => (i, vec())).toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 4)
    val cents = corpus.filter(col("vec_id") % 17 === 3)
    val top = Similarity.ivfTopK(corpus, queries, cents, "vec_id", "embedding",
      k = 5, nprobe = 2)
    val rows = top.collect()
    assert(rows.nonEmpty)
    // ranks are 1..k per query, no self matches
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    for ((q, rs) <- byQ) {
      assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to rs.length))
      assert(rs.forall(_.getAs[Long]("corpus_id") != q))
    }
    // determinism: same plan, same result
    val again = Similarity.ivfTopK(corpus, queries, cents, "vec_id", "embedding",
      k = 5, nprobe = 2).collect()
    assert(rows.map(_.toString).sorted.toSeq == again.map(_.toString).sorted.toSeq)
  }

  test("trainCentroids: deterministic k-means that tightens cells and feeds IVF") {
    val rnd = new scala.util.Random(9)
    // two well-separated blobs around (+5..) and (-5..)
    def blob(center: Float) =
      Array.fill(4)(center + math.floor(rnd.nextGaussian() * 500) / 1000.0f)
    val corpus = ((0L until 20L).map(i => (i, blob(5.0f))) ++
      (20L until 40L).map(i => (i, blob(-5.0f)))).toDF("vec_id", "embedding")
    val trained = Similarity.trainCentroids(corpus, "vec_id", "embedding",
      k = 2, iters = 5)
    val cents = trained.collect().map(r =>
      r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    assert(cents.size == 2)
    // determinism across runs
    val again = Similarity.trainCentroids(corpus, "vec_id", "embedding",
      k = 2, iters = 5).collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    assert(cents.keySet == again.keySet)
    assert(cents.forall { case (k2, v) => again(k2).sameElements(v) })
    // centroids moved to opposite blobs (quantized 1e6 scale)
    val signs = cents.values.map(_.head.signum).toSet
    assert(signs == Set(1, -1))
    // trained centroids slot into the IVF query path
    val top = Similarity.ivfTopKTrained(corpus,
      corpus.filter(col("vec_id") < 2), trained, "vec_id", "embedding",
      k = 3, nprobe = 1).collect()
    assert(top.nonEmpty)
    // nprobe=1 on clean blobs: neighbours come from the query's own blob
    assert(top.forall(r => r.getAs[Long]("corpus_id") < 20L))
  }

  test("winnowFingerprints: pinned example, short-text edges, shared-substring guarantee") {
    val docs = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "tiny"),             // < k chars → no k-gram → no fingerprint
      (3L, "exact"),            // exactly k chars → 1 gram → 1 fingerprint
      (4L, "sevench"),          // k <= len < k+w-1 → min over all grams
      (5L, "THE QUICK BROWN FOX JUMPS")) // lowercased → identical to doc 1
      .toDF("doc_id", "text")
    val out = TextMetrics.winnowFingerprints(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_fps"), r.getAs[String]("fps_csv")))).toMap
    // pinned against an independent DuckDB evaluation of the same scheme
    assert(out(1L) == ((8L,
      "60656600,146965159,185451919,187496359,926043553,930160572,997487566,1330070695")))
    assert(out(2L) == ((0L, "")))
    assert(out(3L) == ((1L, "271262691")))
    assert(out(4L) == ((1L, "237580511")))
    assert(out(5L) == out(1L))

    // winnowing guarantee: sharing a substring of length >= k + w - 1 (= 8)
    // forces at least one common selected fingerprint
    val shared = "zqxjwvkb" // 8 chars, appears in both texts below
    val pair = Seq(
      (10L, s"aaaa ${shared} bbbb cccc dddd"),
      (11L, s"eeee ffff gggg ${shared} hhhh"))
      .toDF("doc_id", "text")
    val sets = TextMetrics.winnowFingerprints(pair, "doc_id", "text")
      .collect().map(r => r.getAs[String]("fps_csv").split(",").toSet)
    assert(sets(0).intersect(sets(1)).nonEmpty)
  }

  test("append-form annotations equal the select forms column for column") {
    val docs = Seq(
      (1L, "the table is fast and the query is small and the data is good"),
      (2L, "x"),
      (3L, "der tisch und der stuhl und die lampe sind gut und schnell da"))
      .toDF("doc_id", "text")
    val selectQ = TextMetrics.qualityScore(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    val appendQ = TextMetrics.withQuality(docs, "text")
      .select("doc_id", "n_chars", "punct_ratio", "stopword_ratio",
        "mean_token_len", "quality")
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(selectQ == appendQ)
    val selectL = TextMetrics.detectLanguage(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val appendL = TextMetrics.withLanguage(docs, "text")
      .select("doc_id", "detected_lang")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(selectL == appendL)
  }

  test("minhashNearDupsAgainst joins across sets; overlapping id namespaces stay separate") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "totally different words over here now friend"))
      .toDF("doc_id", "text")
    // eval doc_id 1 COLLIDES with corpus doc_id 1 on purpose: its text
    // matches corpus doc 2, and the collision must not cross-contaminate
    val evalSet = Seq((1L, "totally different words over here now friend"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDupsAgainst(corpus, "doc_id", "text",
      evalSet, "doc_id", "text")
      .select("doc_a", "doc_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq == Seq((2L, 1L, 1.0))) // corpus 2 ≈ eval 1, nothing else
  }

  test("topVocabulary: frequency order with deterministic alphabetical ties") {
    val docs = Seq(
      (1L, "b b b a a c"),
      (2L, "a c d")) // a:3 b:3 c:2 d:1 — a before b on the count tie
      .toDF("doc_id", "text")
    val out = TextMetrics.topVocabulary(docs, "text", k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == Seq(("a", 3L), ("b", 3L), ("c", 2L)))
  }

  test("packDocs: next-fit by hand — overflow opens bins, oversized docs stand alone, groups reset") {
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, "g1", words(6)),  // bin 0 (fill 6)
      (2L, "g1", words(3)),  // bin 0 (fill 9)
      (3L, "g1", words(2)),  // 9+2 > 10 → bin 1 (fill 2)
      (4L, "g1", words(15)), // oversized: 2+15 > 10 → bin 2 alone
      (5L, "g1", words(1)),  // fill 15 > 0 and 15+1 > 10 → bin 3
      (6L, "g2", words(4)))  // new group → bin 0
      .toDF("doc_id", "source", "text")
    val out = TextMetrics.packDocs(docs, "doc_id", "source", "text", capacity = 10L)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("source"), r.getAs[Long]("n_tokens"), r.getAs[Long]("bin_id")))).toMap
    assert(out(1L) == (("g1", 6L, 0L)))
    assert(out(2L) == (("g1", 3L, 0L)))
    assert(out(3L) == (("g1", 2L, 1L)))
    assert(out(4L) == (("g1", 15L, 2L)))
    assert(out(5L) == (("g1", 1L, 3L)))
    assert(out(6L) == (("g2", 4L, 0L)))
  }

  test("chunk + packDocs invariants over random corpora (seeded trials)") {
    val rnd = new scala.util.Random(20260813L)
    for (_ <- 1 to 3) {
      val docs = (1L to 30L).map { i =>
        val n = rnd.nextInt(50) // 0 → "" → one empty token
        (i, s"g${rnd.nextInt(3)}", (1 to n).map(k => s"w$k").mkString(" "))
      }.toDF("doc_id", "source", "text")
      val tokCount = docs.collect().map(r =>
        r.getLong(0) -> r.getString(2).split("\\s+", -1).length.toLong).toMap
      // chunk: budgets respected, ids dense, token counts conserved
      val chunks = TextMetrics.chunk(docs, "doc_id", "text", maxTokens = 7)
        .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id"),
          r.getAs[Long]("n_tokens")))
      chunks.groupBy(_._1).foreach { case (id, cs) =>
        val ordered = cs.sortBy(_._2)
        assert(ordered.map(_._2).toSeq == (0L until cs.length).toSeq)
        assert(ordered.map(_._3).sum == tokCount(id))
        assert(ordered.init.forall(_._3 == 7L) && ordered.last._3 <= 7L)
        assert(ordered.last._3 >= 1L)
      }
      assert(chunks.map(_._1).toSet == tokCount.keySet)
      // packDocs: every doc in exactly one bin; a bin never exceeds
      // capacity unless it is one oversized doc standing alone
      val packed = TextMetrics.packDocs(docs, "doc_id", "source", "text",
        capacity = 20L)
        .collect().map(r => (r.getAs[String]("source"), r.getAs[Long]("bin_id"),
          r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens")))
      assert(packed.map(_._3).sorted.toSeq == (1L to 30L).toSeq)
      packed.groupBy(p => (p._1, p._2)).foreach { case (_, rows) =>
        assert(rows.map(_._4).sum <= 20L || rows.length == 1)
      }
      // bins are dense per group
      packed.groupBy(_._1).foreach { case (_, rows) =>
        val bins = rows.map(_._2).distinct.sorted.toSeq
        assert(bins == (0L until bins.length).toSeq)
      }
    }
  }

  test("sampleMix: selection is a pure function of (salt, id) — stable under repartitioning") {
    val docs = (1L to 2000L).map(i => (i, if (i % 2 == 0) "a" else "b", s"text $i"))
      .toDF("doc_id", "source", "text")
    val rates = Map("a" -> 30, "b" -> 0)
    def ids(df: org.apache.spark.sql.DataFrame) =
      TextMetrics.sampleMix(df, "doc_id", "source", rates)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val base = ids(docs)
    assert(ids(docs.repartition(17)) == base) // resplitting must not change the mix
    assert(base.forall(_ % 2 == 0)) // rate-0 group fully dropped
    // 30% of 1000 'a' docs within sampling noise of the hash buckets
    assert(base.length > 240 && base.length < 360, s"got ${base.length}")
    // different salt → different (but equally stable) selection
    val other = TextMetrics.sampleMix(docs, "doc_id", "source", rates, salt = "v2")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(other != base)
  }

  test("chunk splits token arrays on exact 32-token boundaries") {
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, words(70)), // 32 + 32 + 6
      (2L, words(64)), // exact boundary: 32 + 32, no empty tail chunk
      (3L, words(32)), // single full chunk
      (4L, words(1)))  // single 1-token chunk
      .toDF("doc_id", "text")
    val out = TextMetrics.chunk(docs, "doc_id", "text", maxTokens = 32)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id"),
        r.getAs[Long]("n_tokens"), r.getAs[String]("chunk_md5")))
    val byDoc = out.groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(byDoc(1L) == Seq(32L, 32L, 6L))
    assert(byDoc(2L) == Seq(32L, 32L))
    assert(byDoc(3L) == Seq(32L))
    assert(byDoc(4L) == Seq(1L))
    // content-addressed: the identical first-32-token prefix of docs 1/2/3
    // hashes identically across docs, while a doc's own chunks differ
    val md5Of = out.map(r => (r._1, r._2) -> r._4).toMap
    assert(md5Of((1L, 0L)) == md5Of((2L, 0L)) && md5Of((1L, 0L)) == md5Of((3L, 0L)))
    assert(md5Of((1L, 1L)) == md5Of((2L, 1L)))
    assert(Set(md5Of((1L, 0L)), md5Of((1L, 1L)), md5Of((1L, 2L))).size == 3)
  }

  test("embeddingStats: exact quantized norms by hand; l2normalize lands on unit norm") {
    import graft.functions.VectorFunctions
    val embs = Seq(
      (1L, Seq(0.6f, 0.8f)),        // exact unit: 600000^2 + 800000^2 = 1e12
      (2L, Seq(3.0f, 4.0f)),        // norm 5 → 25e12, dev 24e12
      (3L, Seq(0.0f, 0.0f)))        // zero vector
      .toDF("vec_id", "embedding")
    val out = Similarity.embeddingStats(embs, "vec_id", "embedding")
      .collect().map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("dim"), r.getAs[Long]("norm_sq_q"), r.getAs[Long]("norm_dev_q")))).toMap
    assert(out(1L) == ((2L, 1000000000000L, 0L)))
    assert(out(2L) == ((2L, 25000000000000L, 24000000000000L)))
    assert(out(3L) == ((2L, 0L, -1000000000000L)))
    // normalizing doc 2 then re-measuring lands within quantization noise
    // of a unit norm (each component's floor() can shave up to 1e-6)
    val renorm = Similarity.embeddingStats(
      embs.filter(col("vec_id") === 2L)
        .select(col("vec_id"), VectorFunctions.l2normalize(col("embedding")).as("embedding")),
      "vec_id", "embedding").collect().head
    assert(math.abs(renorm.getAs[Long]("norm_dev_q")) < 5000000L)
  }

  test("winnowFingerprints kernel equals a naive reference over 200 random strings") {
    // naive reference: per-gram fold hash, per-window min, distinct sorted —
    // no rolling update, no deque; pins the kernel's two optimizations
    def naive(text: String, k: Int, w: Int): Seq[Long] = {
      val t = text.toLowerCase
      val cps = t.codePoints().toArray
      val m = cps.length - (k - 1)
      if (m < 1) Seq.empty
      else {
        val hs = (0 until m).map(i =>
          (i until i + k).foldLeft(0L)((acc, j) => (acc * 257L + cps(j)) % 2147483647L))
        val wins =
          if (m < w) Seq(hs.min)
          else (0 to m - w).map(j => hs.slice(j, j + w).min)
        wins.distinct.sorted
      }
    }
    val rnd = new scala.util.Random(7)
    val alphabet = "abcdefg h" // small alphabet + space → frequent hash ties
    val docs = (1 to 200).map { i =>
      val len = rnd.nextInt(40) // includes < k and < k+w-1 edge lengths
      (i.toLong, (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    }
    val out = TextMetrics.winnowFingerprints(docs.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("fps_csv")).toMap
    docs.foreach { case (id, text) =>
      val want = naive(text, 5, 4).mkString(",")
      assert(out(id) == want, s"doc $id text='$text'")
    }
  }

  test("decontaminate flags n-gram overlap with the eval set, counts grams and eval docs") {
    val phrase = "one two three four five six seven eight" // exactly n=8 tokens
    val corpus = Seq(
      (1L, s"prefix words $phrase suffix words"), // 1 shared 8-gram... plus shifted ones? no: neighbours include prefix/suffix tokens absent from eval
      (2L, "totally unrelated text with no overlap at all whatsoever"),
      (3L, s"$phrase"), // the phrase alone
      (4L, "short"))    // < n tokens → no grams → clean
      .toDF("doc_id", "text")
    val evalSet = Seq((100L, s"intro $phrase outro"), (101L, phrase))
      .toDF("eval_id", "etext")
    val out = Dedup.decontaminate(corpus, "doc_id", "text",
      evalSet, "eval_id", "etext", n = 8)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Boolean]("contaminated"))
    assert(out(1L).getAs[Long]("n_shared_grams") == 1L)
    assert(out(1L).getAs[Long]("n_eval_docs") == 2L) // phrase appears in both eval docs
    assert(!out(2L).getAs[Boolean]("contaminated"))
    assert(out(2L).getAs[Long]("n_shared_grams") == 0L)
    assert(out(3L).getAs[Boolean]("contaminated"))
    assert(!out(4L).getAs[Boolean]("contaminated"))
    assert(out.size == 4) // every corpus doc gets a row, hit or not
  }

  test("repetitionStats: gram fractions by hand, caps, single-token fallback") {
    val docs = Seq(
      (1L, "a b a b c"), // "a b"×2 (len 3) over 9 chars; no repeated trigram
      (2L, "x"),         // no grams at all → zeros
      (3L, "w w w w"))   // overlap overshoot → both fractions cap at 1
      .toDF("doc_id", "text")
    val out = TextMetrics.repetitionStats(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Long]("n_words") == 5L)
    assert(out(1L).getAs[Double]("dup_word_frac") == 1.0 - 3.0 / 5.0)
    assert(out(1L).getAs[Double]("top_bigram_frac") == 6.0 / 9.0)
    assert(out(1L).getAs[Double]("dup_trigram_frac") == 0.0)
    assert(out(2L).getAs[Double]("top_bigram_frac") == 0.0)
    assert(out(2L).getAs[Double]("dup_word_frac") == 0.0)
    assert(out(3L).getAs[Double]("top_bigram_frac") == 1.0)
    assert(out(3L).getAs[Double]("dup_trigram_frac") == 1.0)
  }

  test("tfIdfTopTerms: integer ranking key and score by hand") {
    val docs = Seq(
      (1L, "x x x y common"),
      (2L, "y common common"),
      (3L, "common common common"))
      .toDF("doc_id", "text")
    // df: x→1, y→2, common→3; n_docs = 3
    val out = TextMetrics.tfIdfTopTerms(docs, "doc_id", "text", k = 2)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rank")) ->
        ((r.getAs[String]("token"), r.getAs[Long]("tf"), r.getAs[Long]("df"),
          r.getAs[Double]("tfidf")))).toMap
    // doc 1: x (tf 3) first, then y and common tie on tf=1 → df asc wins
    assert(out((1L, 1L))._1 == "x" && out((1L, 1L))._2 == 3L && out((1L, 1L))._3 == 1L)
    assert(out((1L, 2L))._1 == "y")
    // doc 3: only one distinct token; ln(3/3) = 0 → tfidf exactly 0
    assert(out((3L, 1L))._1 == "common" && out((3L, 1L))._4 == 0.0)
    assert(!out.contains((3L, 2L)))
    // doc 1 rank 1 score: 3 * ln(3/1), rounded at 6 dp
    val expected = BigDecimal(3.0 * math.log(3.0))
      .setScale(10, BigDecimal.RoundingMode.HALF_UP)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out((1L, 1L))._4 == expected)
  }

  test("unigramSurprisal: sums by hand on a two-token corpus") {
    val docs = Seq(
      (1L, "a a a"),
      (2L, "a b")) // counts: a→4, b→1, total 5
      .toDF("doc_id", "text")
    val out = TextMetrics.unigramSurprisal(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Double]("sum_surprisal"),
          r.getAs[Double]("avg_surprisal")))).toMap
    def d10(x: Double) = BigDecimal(x).setScale(10, BigDecimal.RoundingMode.HALF_UP)
    val sA = d10(math.log(5.0 / 4.0)); val sB = d10(math.log(5.0 / 1.0))
    def r6(x: BigDecimal) = x.setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L)._1 == 3L && out(1L)._2 == r6(sA * 3))
    assert(out(2L)._1 == 2L && out(2L)._2 == r6(sA + sB))
    assert(out(2L)._3 == r6(d10(((sA + sB).toDouble / 2.0))))
  }

  test("chunkDedup: cross-document repeated chunks counted, first kept") {
    val docs = Seq(
      (1L, "a b c d"),  // chunks: [a b], [c d]
      (2L, "a b x y"),  // [a b] dups doc 1's; [x y] fresh
      (3L, "c d"))      // [c d] dups doc 1's
      .toDF("doc_id", "text")
    val out = TextMetrics.chunkDedup(docs, "doc_id", "text", maxTokens = 2)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_chunks"), r.getAs[Long]("n_dup_chunks"),
          r.getAs[Double]("dup_frac")))).toMap
    assert(out(1L) == ((2L, 0L, 0.0)))
    assert(out(2L) == ((2L, 1L, 0.5)))
    assert(out(3L) == ((1L, 1L, 1.0)))
  }

  test("mixWeights: sqrt-temperature weights on exact squares") {
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, "big", words(16)),   // sqrt 4
      (2L, "small", words(4)))  // sqrt 2 → weights 2/3, 1/3
      .toDF("doc_id", "source", "text")
    val out = TextMetrics.mixWeights(docs, "source", "text")
      .collect().map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"),
          r.getAs[Double]("sqrt_tokens"), r.getAs[Double]("weight")))).toMap
    assert(out("big") == ((1L, 16L, 4.0, 0.666667)))
    assert(out("small") == ((1L, 4L, 2.0, 0.333333)))
  }

  test("semanticDedup: argmin assignment with centroid-id tie-break, ball prune by hand") {
    // binary-exact components so quantized dots/distances are exact
    val cents = Seq(
      (10L, Array(1.0, 0.0)),
      (11L, Array(0.0, 1.0))).toDF("cid", "cvec")
    val vecs = Seq(
      (1L, Array(1.0, 0.0)),    // cluster 10
      (2L, Array(1.0, 0.0)),    // dup of 1 (dot 1e12)
      (3L, Array(0.75, 0.25)),  // cluster 10, max dot 0.75e12 → kept
      (4L, Array(0.0, 1.0)),    // cluster 11
      (5L, Array(0.0, 1.0)),    // dup of 4
      (6L, Array(0.5, 0.5)))    // equidistant → tie to lower cent id 10; kept
      .toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(vecs, "vec_id", "embedding",
      cents, "cid", "cvec", minDotQ = 800000000000L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out == Map(
      1L -> ((10L, 1L)), 2L -> ((10L, 0L)), 3L -> ((10L, 1L)),
      4L -> ((11L, 1L)), 5L -> ((11L, 0L)), 6L -> ((10L, 1L))))
  }

  test("upsampleMix: integer-weight copies exact, fractional part hash-gated, absent dropped") {
    def frac(id: Long): Long = { // fingerprint("upsample:" + id) mod 100, by hand
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"upsample:$id".getBytes("UTF-8")).map(b => f"$b%02x").mkString
      new java.math.BigInteger(hex.substring(0, 15), 16).longValueExact() % 100L
    }
    val docs = (1L to 20L).map(i =>
      (i, if (i <= 10) "tripled" else if (i <= 15) "half" else "gone"))
      .toDF("doc_id", "source")
    val out = TextMetrics.upsampleMix(docs, "doc_id", "source",
      Map("tripled" -> 300, "half" -> 50))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("epoch")))
    val byDoc = out.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    // weight 300: exactly 3 copies, epochs 1..3, hash-independent
    (1L to 10L).foreach(i => assert(byDoc(i) == Seq(1L, 2L, 3L)))
    // weight 50: one copy iff fingerprint bucket < 50 — subsampling
    (11L to 15L).foreach { i =>
      assert(byDoc.get(i) == (if (frac(i) < 50) Some(Seq(1L)) else None))
    }
    // absent source: contributes nothing
    (16L to 20L).foreach(i => assert(!byDoc.contains(i)))
  }

  test("shuffleShards: stable under repartitioning, dense per-shard positions") {
    val docs = (0L until 100L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val a = TextMetrics.shuffleShards(docs, "doc_id", nShards = 4)
      .select("doc_id", "shard", "pos")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val b = TextMetrics.shuffleShards(docs.repartition(7), "doc_id", nShards = 4)
      .select("doc_id", "shard", "pos")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(a == b) // pure function of (salt, id): partitioning-invariant
    assert(a.size == 100)
    // positions are 1..n_s and dense within every shard
    a.values.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).toSeq.sorted == (1L to rows.size).toSeq)
    }
    // the hash actually scatters ingest order: some adjacent ids split
    assert(a.values.map(_._1).toSet.size == 4)
  }

  test("embeddingNearDupsAgainst: cross-set pairs only, side-ordered, id overlap safe") {
    // same fixture as the self-join test; ids deliberately OVERLAP
    // across sides to pin the separate-namespace contract
    val corpus = Seq(
      (1L, Array(0.5, 0.75, 0.0)),   // bucket 3
      (2L, Array(0.75, 0.5, 0.0)),   // bucket 3
      (3L, Array(-0.5, 0.75, 0.0)))  // bucket 2
      .toDF("vec_id", "embedding")
    val eval_ = Seq(
      (1L, Array(0.5, 0.75, 0.0)),   // bucket 3 — same id as corpus 1
      (9L, Array(-0.5, 0.5, 0.0)))   // bucket 2
      .toDF("vec_id", "embedding")
    val out = Dedup.embeddingNearDupsAgainst(corpus, "vec_id", "embedding",
      eval_, "vec_id", "embedding", minDotQ = 700000000000L, nBits = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // corpus 1 ≡ eval 1 (dot 812.5e9); corpus 2 × eval 1 = 750e9;
    // corpus 3 × eval 9 = 250e9+375e9... = (-0.5*-0.5 + 0.75*0.5)e12
    // = 625e9 < 700e9 → out. No within-side pairs ever.
    assert(out == Set((1L, 1L, 812500000000L), (2L, 1L, 750000000000L)))
    // threshold 0: the cross-bucket pair (corpus 1, eval 9) still absent
    val all = Dedup.embeddingNearDupsAgainst(corpus, "vec_id", "embedding",
      eval_, "vec_id", "embedding", minDotQ = Long.MinValue, nBits = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(all == Set((1L, 1L), (2L, 1L), (3L, 9L)))
  }

  test("tokenPercentiles: discrete rank arithmetic by hand; approx stays within rank error") {
    // percentile_disc ranks over src a (counts 1..10, n=10):
    // p50 → ceil(5.0)=5 → 5, p90 → ceil(9.0)=9 → 9, p99 → ceil(9.9)=10
    // → 10 (the tail value — a lower-rank formula would report 9);
    // src b: single doc → all = its count
    val docs = (1 to 10).map(i => ("a", Seq.fill(i)("w").mkString(" "))) :+
      (("b", "x y z"))
    val df = docs.toDF("source", "text")
    val out = TextMetrics.tokenPercentiles(df, "source", "text")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out == Map("a" -> ((10L, 5L, 9L, 10L)), "b" -> ((1L, 3L, 3L, 3L))))
    // the approx (scale-path) form agrees exactly at this tiny accuracy-
    // dominated size
    val ap = TextMetrics.tokenPercentilesApprox(df, "source", "text")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(ap("a")._1 == 10L && math.abs(ap("a")._2 - 5L) <= 1)
    intercept[IllegalArgumentException] {
      TextMetrics.tokenPercentiles(df, "source", "text", Seq(101))
    }
  }

  test("semanticDedup: negative/sparse centroid ids assign correctly (densified pack)") {
    // a negative id would corrupt the packed argmin if packed raw;
    // ids must densify internally and map back to the caller's domain
    val cents = Seq(
      (-1L, Array(1.0, 0.0)),
      (7L, Array(0.0, 1.0))).toDF("cid", "cvec")
    val vecs = Seq(
      (1L, Array(1.0, 0.0)),   // nearest: centroid -1
      (2L, Array(0.0, 1.0)),   // nearest: centroid 7
      (3L, Array(0.5, 0.5)))   // tie → lowest original id: -1
      .toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(vecs, "vec_id", "embedding",
      cents, "cid", "cvec", minDotQ = 800000000000L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> -1L, 2L -> 7L, 3L -> -1L))
    // empty centroid table: empty result, not an NPE
    val none = Seq.empty[(Long, Array[Double])].toDF("cid", "cvec")
    assert(Dedup.semanticDedup(vecs, "vec_id", "embedding",
      none, "cid", "cvec", minDotQ = 0L).count() == 0L)
  }

  test("classifierQuality: hashed-bucket weights by hand, pluggable weight table") {
    def bucket(tok: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(tok.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      new java.math.BigInteger(hex.substring(0, 15), 16).longValueExact() % 1024L
    }
    def wq(tok: String): Long = bucket(tok) % 197L - 98L
    val docs = Seq(
      (1L, "alpha beta beta"),
      (2L, "")) // split of "" yields one empty token
      .toDF("doc_id", "text")
    val out = TextMetrics.classifierQuality(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))).toMap
    val s1 = wq("alpha") + 2 * wq("beta")
    val s2 = wq("")
    assert(out(1L) == ((3L, s1, s1.toDouble / (197.0 * 3.0), if (s1 >= 0) 1L else 0L)))
    assert(out(2L) == ((1L, s2, s2.toDouble / 197.0, if (s2 >= 0) 1L else 0L)))
    // operator contract: a trained weight table drops in unchanged
    val ones = spark.range(1024).select(col("id").as("bucket"), lit(5L).as("wq"))
    val flat = TextMetrics.classifierQuality(docs, "doc_id", "text",
      weights = Some(ones))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(flat == Map(1L -> 15L, 2L -> 5L))
    // sparse weight table (the natural trained-model storage): tokens
    // hashing to absent buckets score 0 but still count toward n_tokens
    val sparse = Seq((bucket("alpha"), 5L)).toDF("bucket", "wq")
    val sp = TextMetrics.classifierQuality(docs, "doc_id", "text",
      weights = Some(sparse))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(sp == Map(1L -> ((3L, 5L)), 2L -> ((1L, 0L))))
  }

  test("sharedSubstringStats: shared substrings witnessed, unique and short docs at zero") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over it"),
      (2L, "xx the quick brown fox yy"), // shares >= 8 chars with doc 1
      (3L, "zzzz qqqq wwww kkkk rrrr"),  // unique text
      (4L, "abc"))                        // < k chars: zero fingerprints
      .toDF("doc_id", "text")
    val out = TextMetrics.sharedSubstringStats(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // winnowing guarantee: a shared substring of length >= k+w-1 = 8
    // leaves at least one shared fingerprint on both sides
    assert(out(1L)._2 >= 1L && out(2L)._2 >= 1L)
    assert(out(3L)._2 == 0L && out(3L)._3 == 0.0)
    assert(out(4L) == ((0L, 0L, 0.0)))
    // the fraction is exactly n_shared / n_fps on every row
    out.values.foreach { case (nFps, nShared, frac) =>
      assert(nShared <= nFps)
      assert(frac == (if (nFps == 0) 0.0 else nShared.toDouble / nFps))
    }
    // cross-check n_shared against a driver-side recount over the raw
    // fingerprint sets (set intersection semantics, any pair of docs)
    val sets = TextMetrics.winnowFingerprints(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (if (r.getString(2).isEmpty) Set.empty[String]
         else r.getString(2).split(",").toSet)).toMap
    out.foreach { case (id, (_, nShared, _)) =>
      val others = sets.filter(_._1 != id).values.flatten.toSet
      assert(nShared == sets(id).count(others.contains), s"doc $id")
    }
  }

  test("decontaminateBloom equals exact decontaminate, even at fpp ~ 1") {
    val corpus = Seq(
      (1L, "a b c d e f g h i j"),     // shares the 8-gram a..h with eval 100
      (2L, "k l m n o p q r s t"),     // clean
      (3L, "short text"))              // < 8 tokens: no grams
      .toDF("doc_id", "text")
    val eval = Seq((100L, "a b c d e f g h zz")).toDF("doc_id", "text")
    val exact = Dedup.decontaminate(corpus, "doc_id", "text",
      eval, "doc_id", "text", n = 8).collect().map(_.toSeq).toSet
    val bloom = Dedup.decontaminateBloom(corpus, "doc_id", "text",
      eval, "doc_id", "text", n = 8).collect().map(_.toSeq).toSet
    assert(bloom == exact)
    // saturate the sketch (fpp -> 1): every gram survives the pre-filter
    // and the exact verify join alone must still produce exact results
    val saturated = Dedup.decontaminateBloom(corpus, "doc_id", "text",
      eval, "doc_id", "text", n = 8, fpp = 0.99).collect().map(_.toSeq).toSet
    assert(saturated == exact)
    val contaminated = exact.filter(_(3) == true).map(_.head)
    assert(contaminated == Set(1L))
  }

  test("q48 shared-band path matches the standalone cross-corpus operator") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val viaShared = graft.queries.PipelineQueries
      .q48FuzzyDecontaminate(spark, dir)
      .collect().map(_.toSeq).toSet
    val viaOperator = Dedup.minhashNearDupsAgainst(
      d.filter(col("source") =!= "src0"), "doc_id", "text",
      d.filter(col("source") === "src0"), "doc_id", "text")
      .select("doc_a", "doc_b", "shared", "size_a", "size_b", "jaccard")
      .collect().map(_.toSeq).toSet
    assert(viaShared == viaOperator)
  }

  test("assignSplits: stable under corpus growth, ranges cumulative, validated") {
    import spark.implicits._
    val splits = Seq("train" -> 80, "val" -> 10, "test" -> 10)
    def labels(n: Int) = TextMetrics.assignSplits(
        (1 to n).map(i => (i.toLong, s"d$i")).toDF("doc_id", "text"),
        "doc_id", splits)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val small = labels(200)
    val grown = labels(400)
    // growth never reassigns an existing document's split
    assert(small.forall { case (id, l) => grown(id) == l })
    // all three splits materialize at rough proportion
    val counts = grown.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(counts.keySet === Set("train", "val", "test"))
    assert(counts("train") > counts("val") && counts("train") > counts("test"))
    // percentages must sum to 100
    intercept[IllegalArgumentException] {
      TextMetrics.assignSplits(Seq((1L, "x")).toDF("doc_id", "text"),
        "doc_id", Seq("train" -> 50, "val" -> 10))
    }
  }

  test("gramNovelty: shared grams witnessed across docs, short docs fully novel") {
    import spark.implicits._
    val eight = "a b c d e f g h"            // exactly one 8-gram
    val docs = Seq(
      (1L, eight),                            // shares its gram with doc 2
      (2L, eight + " i"),                     // grams: abcdefgh + bcdefghi
      (3L, "p q r s t u v w x"),              // two grams, all unique
      (4L, "too short")).toDF("doc_id", "text")
    val m = Dedup.gramNovelty(docs, "doc_id", "text", n = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(m(1L) === ((1L, 1L, 0.0)))
    assert(m(2L) === ((2L, 1L, 0.5)))
    assert(m(3L) === ((2L, 0L, 1.0)))
    assert(m(4L) === ((0L, 0L, 1.0))) // no 8-gram → fully novel by convention
    // intra-doc repetition alone is NOT cross-doc sharing (distinct per doc)
    val solo = Dedup.gramNovelty(
      Seq((9L, eight + " " + eight)).toDF("doc_id", "text"),
      "doc_id", "text", n = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(solo(9L) == 0L)
  }

  test("knnGraph: equals exact kNN when one bucket holds everything; k bound; no self") {
    // all-positive 2-dim unit-ish vectors share sign bucket 3 under any
    // nBits >= 2, and every Hamming-1 probe of an occupied bucket still
    // finds it — so the LSH graph must equal the exact top-k
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.8f, 0.6f)),
      (3L, Array(0.6f, 0.8f)),
      (4L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.knnGraph(vecs, "vec_id", "embedding", k = 2, nBits = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // quantized dots: cos order by hand — 1's nearest are 2 then 3;
    // 4's nearest are 3 then 2; 2 and 3 are each other's nearest
    assert(out((1L, 1L)) == 2L && out((1L, 2L)) == 3L)
    assert(out((4L, 1L)) == 3L && out((4L, 2L)) == 2L)
    assert(out((2L, 1L)) == 3L && out((3L, 1L)) == 2L)
    assert(out.size == 8) // 4 sources x k=2, never a self edge
    assert(!out.exists { case ((s, _), n) => s == n })
  }

  test("trainNbWeights: smoothed log-odds by hand; presence, not counts") {
    // docs 1,2 positive, doc 3 negative; tf values deliberately > 1 so a
    // count-based (multinomial) implementation would diverge
    val tf = Seq((1L, "a", 5L), (1L, "b", 1L), (2L, "a", 2L),
      (3L, "a", 1L), (3L, "c", 9L)).toDF("doc_id", "token", "tf")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 0L)).toDF("doc_id", "label")
    val out = TextMetrics.trainNbWeights(tf, labels, "doc_id")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // n_pos=2, n_neg=1; w = ln(((df_p+1)/4) / ((df_n+1)/3)), dec6:
    assert(out("a") == ((2L, 1L, 0.117783)))   // ln(9/8)
    assert(out("b") == ((1L, 0L, 0.405465)))   // ln(3/2)
    assert(out("c") == ((0L, 1L, -0.980829)))  // ln(3/8)
    assert(out.size == 3)
  }

  test("chunkDedupRewrite: losing chunks deleted in-row, md5 by hand, all-dropped is null") {
    def m(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = Seq(
      (1L, "A b c d"),   // chunks [a b][c d]; first occurrence of both
      (2L, "a b x y"),   // [a b] duplicates doc1's -> dropped; [x y] kept
      (3L, "a b"))       // its only chunk duplicates -> everything dropped
      .toDF("doc_id", "text")
    val out = TextMetrics.chunkDedupRewrite(docs, "doc_id", "text", maxTokens = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), Option(r.getString(4))))).toMap
    assert(out(1L) == ((2L, 0L, 4L, Some(m("a b c d")))))
    assert(out(2L) == ((2L, 1L, 2L, Some(m("x y")))))
    assert(out(3L) == ((1L, 1L, 0L, None)))
  }

  test("vocabCoverage: ranked running sums by hand, tie order, cut points past vocab vanish") {
    // token totals: a=5, b=3, c=2 (total 10)
    val tf = Seq((1L, "a", 3L), (2L, "a", 2L), (1L, "b", 3L), (1L, "c", 2L))
      .toDF("doc_id", "token", "tf")
    val out = TextMetrics.vocabCoverageFromTf(tf, Seq(1, 2, 3, 50))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((5L, 10L, 0.5)))
    assert(out(2L) == ((8L, 10L, 0.8)))
    assert(out(3L) == ((10L, 10L, 1.0)))
    assert(out.size == 3) // k=50 exceeds |vocab|=3: no row
    // equal counts tie by token: b=2, c=2 -> b ranks first
    val tied = Seq((1L, "c", 2L), (1L, "b", 2L)).toDF("doc_id", "token", "tf")
    val t2 = TextMetrics.vocabCoverageFromTf(tied, Seq(1))
      .collect().head
    assert(t2.getLong(1) == 2L && t2.getLong(2) == 4L)
  }

  test("recallReport: identical results score 1, disjoint 0, partial exact") {
    import spark.implicits._
    def topk(rows: (Long, Long)*) = rows.toSeq.toDF("query_id", "corpus_id")
    val exact = topk((1L, 10L), (1L, 11L), (1L, 12L), (1L, 13L),
      (2L, 20L), (2L, 21L), (2L, 22L), (2L, 23L))
    val approx = topk((1L, 10L), (1L, 11L), (1L, 12L), (1L, 13L), // all 4
      (2L, 20L), (2L, 99L), (2L, 98L), (2L, 97L)) // 1 of 4
    val m = Similarity.recallReport(exact, approx, k = 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(3)))).toMap
    assert(m(1L) === ((4L, 1.0)))
    assert(m(2L) === ((1L, 0.25)))
    // approx hits outside the exact set never inflate the count
    val inflated = Similarity.recallReport(exact,
      topk((1L, 50L), (1L, 51L), (2L, 52L)), k = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inflated === Map(1L -> 0L, 2L -> 0L))
  }

  test("skyline frontier2d: hand fixture, coincident duplicates survive, brute parity") {
    import spark.implicits._
    // frontier: (5,1), (3,3)+dup, (1,5); dominated: (2,2) by (3,3),
    // (3,1) by (3,3) same-x, (1,4) by (1,5) same-x... and (4,1) by (5,1)
    val pts = Seq(
      (1L, 5L, 1L), (2L, 3L, 3L), (3L, 3L, 3L), (4L, 1L, 5L),
      (5L, 2L, 2L), (6L, 3L, 1L), (7L, 1L, 4L), (8L, 4L, 1L))
      .toDF("id", "x", "y").repartition(3)
    val got = graft.pipeline.Skyline.frontier2d(pts, "id", "x", "y")
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L, 3L, 4L))
    // random parity vs brute quadratic dominance
    val rnd = new scala.util.Random(71)
    val rp = (1 to 60).map(i =>
      (i.toLong, (rnd.nextInt(10) + 1).toLong, (rnd.nextInt(10) + 1).toLong))
    val want = rp.filter { case (_, x, y) =>
      !rp.exists { case (_, bx, by) =>
        bx >= x && by >= y && (bx > x || by > y) }
    }.map(_._1).toSet
    val got2 = graft.pipeline.Skyline
      .frontier2d(rp.toDF("id", "x", "y").repartition(7), "id", "x", "y")
      .collect().map(_.getLong(0)).toSet
    assert(got2 == want)
    // the precondition guard is LOUD: a high-cardinality x refuses
    // instead of single-tasking the running-max window. Since r19 the
    // guard is lazy (assert_true riding the window pass — construction
    // pays no Spark job), so it surfaces at execution, wrapped by the
    // task runner.
    val wide = (1 to 50).map(i => (i.toLong, i.toLong, 1L))
      .toDF("id", "x", "y")
    val ex = intercept[Exception] {
      graft.pipeline.Skyline.frontier2d(wide, "id", "x", "y",
        maxDistinctX = 10L).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("maxDistinctX")))
  }

  test("filteredAnnReport: overfetch window bounds post-filter recall") {
    import spark.implicits._
    // query [1,0]; label-1 truth is id 1 (dot 0.5e12); two label-2
    // noise vectors outscore it globally, so overfetch 2 never reaches
    // the truth — overfetch 3 does
    val corpus = Seq(
      (0L, Array(1.0f, 0.0f), 9),
      (1L, Array(0.5f, 0.0f), 1),
      (2L, Array(-1.0f, 0.0f), 1),
      (3L, Array(2.0f, 0.0f), 2),
      (4L, Array(1.9f, 0.0f), 2))
      .toDF("vec_id", "embedding", "label")
    val q = corpus.filter(col("vec_id") === 0L)
    def report(labelValue: Int, overfetch: Int) =
      Similarity.filteredAnnReport(corpus, q, "vec_id", "embedding",
          "label", labelValue, k = 1, overfetch = overfetch)
        .collect().head
    val starved = report(1, 2)
    assert((starved.getLong(1), starved.getLong(2), starved.getLong(3),
      starved.getDouble(4)) == ((1L, 0L, 0L, 0.0)))
    val reached = report(1, 3)
    assert((reached.getLong(1), reached.getLong(3),
      reached.getDouble(4)) == ((1L, 1L, 1.0)))
    // empty predicate subset: zero truth, NULL recall
    val empty = report(5, 3)
    assert(empty.getLong(1) == 0L && empty.isNullAt(4))
  }

  test("giniConcentration: uniform is 0, concentrated matches hand math") {
    import spark.implicits._
    def doc(id: Long, src: String, n: Int) =
      (id, src, Seq.fill(n)("w").mkString(" "))
    // uniform source: G = 0 exactly; concentrated: x = (1,1,1,97) →
    // S1 = 1+2+3+4·97 = 394, G = (788 − 5·100)/(4·100) = 0.72
    val docsDf = Seq(doc(1, "u", 5), doc(2, "u", 5), doc(3, "u", 5),
      doc(4, "c", 1), doc(5, "c", 1), doc(6, "c", 1), doc(7, "c", 97))
      .toDF("doc_id", "source", "text").repartition(3)
    val got = TextMetrics.giniConcentration(docsDf, "doc_id", "text", "source")
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got == Map("u" -> ((3L, 15L, 0.0)), "c" -> ((4L, 100L, 0.72))))
  }

  test("cmsJoinCardinality: exact at wide sketch, one-sided overestimate when squeezed") {
    import spark.implicits._
    // keys: 1 appears 2×3 across sides, 2 appears 1×1, 3 left-only,
    // 4 right-only → exact = 2·3 + 1 = 7
    val l = Seq(1L, 1L, 2L, 3L).toDF("k")
    val r = Seq(1L, 1L, 1L, 2L, 4L).toDF("k")
    val wide = graft.pipeline.Sketches
      .cmsJoinCardinality(l, "k", r, "k", depth = 4, width = 4096)
      .collect().head
    assert((wide.getLong(0), wide.getLong(1)) == ((7L, 7L)))
    assert(wide.getDouble(2) == 1.0)
    // width 1: every key shares the one bucket → dot = 4·5 = 20
    val squeezed = graft.pipeline.Sketches
      .cmsJoinCardinality(l, "k", r, "k", depth = 4, width = 1)
      .collect().head
    assert((squeezed.getLong(0), squeezed.getLong(1)) == ((7L, 20L)))
    // empty intersection: exact 0, ratio NULL
    val disjoint = graft.pipeline.Sketches
      .cmsJoinCardinality(Seq(10L).toDF("k"), "k",
        Seq(11L).toDF("k"), "k", depth = 2, width = 4096)
      .collect().head
    assert(disjoint.getLong(0) == 0L && disjoint.isNullAt(2))
  }

  test("waterfillBudget: closed form equals brute level search at every budget regime") {
    import spark.implicits._
    def mkDocs(inv: Map[String, Long]) = inv.toSeq.flatMap { case (s, n) =>
      val a = n / 2 // two docs per source: the aggregate is exercised
      Seq((s"$s-1", s, Seq.fill(a.toInt)("w").mkString(" ")),
        (s"$s-2", s, Seq.fill((n - a).toInt)("w").mkString(" ")))
    }.toDF("doc_id", "source", "text")
    // independent mechanism: linear search for the max level t with
    // sum(min(s, t)) <= B, then remainder to the first uncapped rows
    def brute(inv: Map[String, Long], budget: Long): Map[String, (Long, Long)] = {
      val total = inv.values.sum
      if (budget >= total) inv.map { case (s, n) => s -> ((n, 1L)) }
      else {
        def f(t: Long) = inv.values.map(math.min(_, t)).sum
        var t = 0L
        while (f(t + 1) <= budget) t += 1
        var r = budget - f(t)
        inv.toSeq.sortBy { case (s, n) => (n, s) }.map { case (s, n) =>
          if (n <= t) s -> ((n, 1L))
          else {
            val topUp = if (r > 0) { r -= 1; 1L } else 0L
            s -> ((t + topUp, 0L))
          }
        }.toMap
      }
    }
    val rnd = new scala.util.Random(67)
    val inv = (0 until 6).map(i => s"s$i" -> (2L + rnd.nextInt(39))).toMap
    val total = inv.values.sum
    val docsDf = mkDocs(inv).repartition(5)
    for (budget <- Seq(1L, 5L, total / 2, total - 1, total, total + 10)) {
      val got = TextMetrics.waterfillBudget(docsDf, "source", "text", budget)
        .collect()
        .map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3)))).toMap
      assert(got == brute(inv, budget), s"budget $budget")
      assert(got.values.map(_._1).sum == math.min(budget, total))
    }
  }

  test("sortedNeighborhood: canonical adjacency found, outside-window pair missed, brute parity") {
    import spark.implicits._
    // canonical sort order: 1 ("alpha beta gamma delta"), 6 (same key —
    // case/extra whitespace canonicalize away; ties by id), 2
    // (…" epsilon"), then the m/z docs. Pair (1,2) sits at rank
    // distance 2.
    val docsDf = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "mike november oscar papa"),
      (4L, "mike november oscar papa quebec"),
      (5L, "zulu yankee xray whiskey"),
      (6L, "Alpha  BETA gamma delta"))
      .toDF("doc_id", "text").repartition(5)
    def pairs(w: Int) =
      Dedup.sortedNeighborhood(docsDf, "doc_id", "text", window = w)
        .collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    // w=1: the exact-canonical twin (1,6) and (2,6) adjacency…
    val w1 = pairs(1)
    assert(w1.contains((1L, 6L)))
    assert(!w1.contains((1L, 2L)), "rank distance 2 must be outside w=1")
    // w=2 recovers (1,2) — the window IS the recall knob
    assert(pairs(2).contains((1L, 2L)))
    // brute reimplementation: full sort + all within-window pairs +
    // driver jaccard at the same threshold
    def canon(s: String) = s.toLowerCase
      .replaceAll("[^a-z0-9 \t\n\f\r]", " ").replaceAll("[ \t\n\f\r]+", " ").trim
    def shingles(s: String) = {
      // the verify arm shingles RAW lowered whitespace tokens (the
      // shared q20 shingle relation), not the canonical sort key
      val t = s.toLowerCase.split("[ \t\n\f\r]+").toSeq
      (if (t.length >= 3) t.sliding(3).map(_.mkString(" ")).toSet
       else Set(t.mkString(" ")))
    }
    val rows = Seq(1L -> "alpha beta gamma delta",
      2L -> "alpha beta gamma delta epsilon",
      3L -> "mike november oscar papa",
      4L -> "mike november oscar papa quebec",
      5L -> "zulu yankee xray whiskey",
      6L -> "Alpha  BETA gamma delta")
    val ranked = rows.sortBy { case (id, t) => (canon(t), id) }.map(_._1)
    for (w <- Seq(1, 2, 4)) {
      val cand = for {
        i <- ranked.indices; j <- (i + 1) until math.min(i + w + 1, ranked.length)
      } yield (math.min(ranked(i), ranked(j)), math.max(ranked(i), ranked(j)))
      val byId = rows.toMap
      val want = cand.filter { case (a, b) =>
        val (sa, sb) = (shingles(byId(a)), shingles(byId(b)))
        val sh = sa.intersect(sb).size.toDouble
        sh / (sa.size + sb.size - sh) >= 0.5
      }.toSet
      assert(pairs(w) == want, s"window $w")
    }
  }

  test("sortedNeighborhoodMultiPass: reversed-key pass catches the suffix pair the canonical pass separates") {
    import spark.implicits._
    // docs 1 and 7 share everything but the FIRST word (Jaccard 0.6 on
    // word trigrams); five fillers sort between 'apple…' and 'zebra…'
    // so the canonical pass at window 4 cannot pair them — but their
    // REVERSED keys both start "tsil snekot …" and no filler's does,
    // so the reversed-key pass puts them adjacent.
    val docsDf = Seq(
      (1L, "apple shared common tail tokens list"),
      (2L, "banana one two three"),
      (3L, "cherry four five six"),
      (4L, "grape seven eight nine"),
      (5L, "mango ten eleven twelve"),
      (6L, "peach also different words"),
      (7L, "zebra shared common tail tokens list"))
      .toDF("doc_id", "text").repartition(3)
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val single = pairSet(
      Dedup.sortedNeighborhood(docsDf, "doc_id", "text", window = 4))
    val multi = pairSet(
      Dedup.sortedNeighborhoodMultiPass(docsDf, "doc_id", "text", window = 4))
    assert(!single.contains((1L, 7L)),
      "the canonical-key pass must miss the suffix-share pair (fixture precondition)")
    assert(multi.contains((1L, 7L)),
      "the reversed-key pass must catch the suffix-share pair")
    assert(single.subsetOf(multi),
      "multi-pass candidates are a superset: pass 1 pairs all survive")
  }

  test("sortedNeighborhood: null and empty keys rank like a nulls-first row_number in both SNM forms") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // null texts have a null canonical key; "" and "!!!" canonicalize to
    // the empty key, which shares the null key's 8-char prefix (0)
    val docsDf = Seq[(Long, String)](
      (1L, null), (2L, ""), (3L, "alpha beta gamma"), (4L, null),
      (5L, "!!!"), (6L, "Alpha  BETA"), (7L, "beta gamma"), (8L, "zulu"),
      (9L, "alpha"), (10L, null), (11L, "mike november"))
      .toDF("doc_id", "text").repartition(3)
    // shingle sets {"s", id}: every pair verifies at Jaccard exactly 1/3,
    // so the output pairs are the candidate pairs, and a candidate pair
    // emitted twice would verify at 2/2 = 1 instead
    val shingled = docsDf.select(col("doc_id"),
      array(lit("s"), col("doc_id").cast("string")).as("shingles"))
    val window = 2
    def want(keys: Seq[org.apache.spark.sql.Column]): Set[(Long, Long)] = {
      val ranked = keys.zipWithIndex.map { case (k, p) =>
          docsDf.select(col("doc_id"), k.as("_key"), lit(p).as("_pass")) }
        .reduce(_ unionByName _)
        .select(col("_pass"), col("doc_id"), row_number().over(
          Window.partitionBy("_pass")
            .orderBy(col("_key").asc_nulls_first, col("doc_id"))).as("rn"))
        .collect().map(r => (r.getInt(0), r.getInt(2)) -> r.getLong(1)).toMap
      ranked.toSeq.flatMap { case ((p, rn), a) =>
        (1 to window).flatMap(d => ranked.get((p, rn + d)).map(b => (a.min(b), a.max(b))))
      }.toSet
    }
    def got(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = {
      val rows = df.collect()
      val pairs = rows.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
      assert(pairs.distinct.length == pairs.length, "duplicate pair rows")
      assert(rows.forall(_.getAs[Double]("jaccard") == 1.0 / 3.0),
        "a candidate pair was emitted more than once")
      pairs.toSet
    }
    val canon = Dedup.canonicalText(col("text"))
    assert(got(Dedup.sortedNeighborhood(docsDf, "doc_id", "text", window,
      threshold = 0.0, shingled = Some(shingled))) == want(Seq(canon)))
    assert(got(Dedup.sortedNeighborhoodMultiPass(docsDf, "doc_id", "text", window,
      threshold = 0.0, shingled = Some(shingled))) == want(Seq(canon, reverse(canon))))
  }

  test("jaccardAcross: distinct-pairs precondition — duplicate input pairs collapse with inflated shared (contract pin)") {
    import spark.implicits._
    // ADVICE r19: the single-consumption shape REQUIRES distinct pair
    // rows (every in-repo caller holds it by construction). This pins
    // the documented failure mode so the contract stays visible: a
    // duplicated pair collapses to ONE row whose `shared` counts every
    // copy's matches — NOT a per-copy duplicate of the correct row.
    val shingled = Seq(
      (1L, Seq("a b c", "b c d")),
      (2L, Seq("b c d", "c d e")))
      .toDF("doc_id", "shingles")
    val distinctPairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val dupPairs = Seq((1L, 2L), (1L, 2L)).toDF("doc_a", "doc_b")
    val clean = Dedup.jaccard(distinctPairs, shingled).collect()
    assert(clean.length == 1)
    val c = clean.head
    assert(c.getAs[Long]("shared") == 1L &&
      c.getAs[Double]("jaccard") == 1.0 / 3.0)
    // duplicate input: one output row, shared doubled — garbage by
    // contract, loud in this pin (dedupe pairs BEFORE calling)
    val dup = Dedup.jaccard(dupPairs, shingled).collect()
    assert(dup.length == 1 && dup.head.getAs[Long]("shared") == 2L,
      "duplicate-pair collapse behavior changed — update the " +
        "jaccardAcross scaladoc precondition if this is intentional")
  }

  test("mmrSelect: equals a naive recompute-everything reimplementation; duplicates demoted") {
    import spark.implicits._
    // probe [1, 1]; a and its exact duplicate both sit at rel 1.0, the
    // most-relevant b at 1.5 — after b, the duplicate pair's mutual
    // redundancy pushes the second twin to LAST despite rel parity
    // with c
    val corpus = Seq(
      (0L, Array(1.0f, 1.0f)), // the probe row itself (excluded)
      (1L, Array(1.0f, 0.0f)), // a
      (2L, Array(1.0f, 0.0f)), // exact dup of a
      (3L, Array(0.8f, 0.7f)), // b: most relevant
      (4L, Array(0.0f, 1.0f))) // c: rel ties a, diverse from b
      .toDF("vec_id", "embedding")
    val got = Similarity.mmrSelect(corpus,
        corpus.filter(col("vec_id") === 0L), "vec_id", "embedding",
        k = 4, nCandidates = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // naive independent reimplementation: re-derive every score from
    // scratch each round (no incremental maxSim state)
    def q(v: Array[Float]) = v.map(x => math.floor(x.toDouble * 1e6).toLong)
    def dot(a: Array[Long], b: Array[Long]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    val probe = q(Array(1.0f, 1.0f))
    val pool = Seq(1L -> Array(1.0f, 0.0f), 2L -> Array(1.0f, 0.0f),
      3L -> Array(0.8f, 0.7f), 4L -> Array(0.0f, 1.0f))
      .map { case (id, v) => id -> q(v) }
    var sel = Vector.empty[(Long, Long, Long, Long)]
    var rem = pool
    for (rank <- 1 to 4) {
      val scored = rem.map { case (id, v) =>
        val rel = dot(v, probe)
        val ms = if (sel.isEmpty) 0L
          else sel.map(s => dot(v, pool.toMap.apply(s._2))).max
        (id, v, rel, ms, 7L * rel - 3L * ms)
      }
      val best = scored.minBy { case (id, _, _, _, sc) => (-sc, id) }
      sel :+= ((rank.toLong, best._1, best._3, best._4))
      rem = rem.filterNot(_._1 == best._1)
    }
    assert(got.toSeq == sel)
    // b first (rel), then diverse c over the a-twins, then a, dup LAST:
    // the redundant twin is demoted below everything non-redundant
    assert(got.map(_._2).toSeq == Seq(3L, 4L, 1L, 2L))
  }

  test("matryoshkaRecall: prefix arm flips the winner, full-width arm recovers it") {
    import spark.implicits._
    // corpus dots vs the query [1, 1]: full ranking c1 (11) > c2 (2) >
    // c3 (1); first-coordinate-only ranking c2 (2) > c1 (1) > c3 (0) —
    // truncation flips the top-1, the full-width prefix restores it
    val corpus = Seq(
      (1L, Array(1.0f, 10.0f)),
      (2L, Array(2.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f)),
      (0L, Array(1.0f, 1.0f))).toDF("vec_id", "embedding")
    val got = Similarity.matryoshkaRecall(corpus,
        corpus.filter(col("vec_id") === 0L), "vec_id", "embedding",
        k = 1, dims = Seq(1, 2))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(4))))
      .toMap
    assert(got == Map(
      (1L, 0L) -> ((0L, 0.0)), // dims=1: top-1 is c2, ground truth c1
      (2L, 0L) -> ((1L, 1.0)))) // dims=2 ≡ full: recovered
  }

  test("ndcgReport: perfect ranking scores 1, reversed ranking matches hand math") {
    val exact = Seq((1L, 1L, 10L), (1L, 2L, 11L), (1L, 3L, 12L))
      .toDF("query_id", "rank", "corpus_id")
    val perfect = Similarity.ndcgReport(exact, exact, k = 3)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).head
    assert(perfect == ((3L, 1.0)))
    // reversed: ids come back in opposite order -> rels [1,2,3] at
    // ranks [1,2,3]
    val reversed = Seq((1L, 1L, 12L), (1L, 2L, 11L), (1L, 3L, 10L))
      .toDF("query_id", "rank", "corpus_id")
    def disc(rel: Double, rank: Double) =
      BigDecimal(rel / (math.log(rank + 1.0) / math.log(2.0)))
        .setScale(10, BigDecimal.RoundingMode.HALF_UP)
    val dcg = (disc(1, 1) + disc(2, 2) + disc(3, 3)).doubleValue
    val idcg = (disc(3, 1) + disc(2, 2) + disc(1, 3)).doubleValue
    val want = BigDecimal(dcg / idcg)
      .setScale(10, BigDecimal.RoundingMode.HALF_UP)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = Similarity.ndcgReport(exact, reversed, k = 3)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).head
    assert(got == ((3L, want)))
  }

  test("rrfFuse matches hand-computed integer RRF registers, ties break by item id") {
    // arm A ranks items 10,11,12; arm B ranks 11,10,13 — fused by
    // sum of (1e12 div (60 + rank)) per arm
    val armA = Seq((1L, 1L, 10L), (1L, 2L, 11L), (1L, 3L, 12L))
      .toDF("query_id", "rank", "corpus_id")
    val armB = Seq((1L, 1L, 11L), (1L, 2L, 10L), (1L, 3L, 13L))
      .toDF("query_id", "rank", "corpus_id")
    def t(r: Long) = 1000000000000L / (60L + r) // exact integer division
    val got = Similarity.rrfFuse(Seq(armA, armB), "query_id", "corpus_id",
        "rank", k = 60, topK = 10)
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    // 10 and 11 fuse symmetrically (ranks {1,2} in opposite arms) ->
    // identical rrf_q, tie broken by corpus_id; single-arm items keep
    // n_arms = 1
    assert(got.toSeq == Seq(
      (1L, 10L, t(1) + t(2), 2L),
      (2L, 11L, t(1) + t(2), 2L),
      (3L, 12L, t(3), 1L),
      (4L, 13L, t(3), 1L)))
  }

  test("rrfFuse property: random arms equal a direct reimplementation") {
    val rnd = new scala.util.Random(7)
    // 3 arms × 5 queries; each arm ranks a random 8-item subset of 0..30
    val arms: Seq[Seq[(Long, Long, Long)]] = (0 until 3).map { _ =>
      (0L until 5L).flatMap { q =>
        rnd.shuffle((0L to 30L).toList).take(8).zipWithIndex
          .map { case (it, i) => (q, (i + 1).toLong, it) }
      }
    }
    val got = Similarity.rrfFuse(
        arms.map(_.toDF("query_id", "rank", "corpus_id")),
        "query_id", "corpus_id", "rank", k = 60, topK = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    val fused = arms.flatten
      .map { case (q, r, it) => ((q, it), 1000000000000L / (60L + r)) }
      .groupBy(_._1).toSeq
      .map { case ((q, it), ts) => (q, it, ts.map(_._2).sum, ts.size.toLong) }
    val want = fused.groupBy(_._1).toSeq.flatMap { case (q, rows) =>
      rows.sortBy(r => (-r._3, r._2)).take(5).zipWithIndex
        .map { case ((_, it, s, n), i) => (q, (i + 1).toLong, it, s, n) }
    }.toSet
    assert(got == want)
  }

  test("cdcChunks equals a direct reimplementation and survives a prefix shift") {
    def hash15(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    def chunksOf(tokens: Seq[String]): Seq[Seq[String]] = {
      val out = scala.collection.mutable.Buffer[Seq[String]]()
      var cur = scala.collection.mutable.Buffer[String]()
      tokens.indices.foreach { i =>
        cur += tokens(i)
        val boundary = i >= 2 &&
          hash15(tokens.slice(i - 2, i + 1).mkString(" ")) % 16 == 0
        if (boundary) { out += cur.toSeq; cur = scala.collection.mutable.Buffer[String]() }
      }
      if (cur.nonEmpty) out += cur.toSeq
      out.toSeq
    }
    val rnd = new scala.util.Random(13)
    val alpha = Vector("ant", "bee", "cat", "dog", "eel", "fox", "gnu",
      "hen", "ibis", "jay")
    val base = Seq.fill(200)(alpha(rnd.nextInt(alpha.size)))
    val shifted = Seq("extra", "words") ++ base // same content, shifted frame
    val docsDf = Seq((1L, base.mkString(" ")), (2L, shifted.mkString(" ")))
      .toDF("doc_id", "text")
    val got = TextMetrics.cdcChunks(docsDf.repartition(3), "doc_id", "text")
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    def md5hex(s: String): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val all = Seq((1L, base), (2L, shifted)).flatMap { case (id, ts) =>
      chunksOf(ts).map(c => (md5hex(c.mkString(" ")), c.length.toLong, id))
    }
    val want = all.groupBy(_._1).map { case (h, rows) =>
      h -> ((rows.head._2, rows.size.toLong,
        rows.map(_._3).distinct.size.toLong, rows.map(_._3).min))
    }
    assert(got == want)
    // content-defined boundaries resync after the prefix: the two docs
    // share chunks despite the frame shift (fixed-size chunking would
    // share none)
    assert(want.values.count(_._3 == 2L) >= 5,
      s"only ${want.values.count(_._3 == 2L)} shared chunks")
  }

  test("weightedSample equals a direct Efraimidis-Spirakis reimplementation") {
    def round6(x: Double) = BigDecimal(x)
      .setScale(10, BigDecimal.RoundingMode.HALF_UP)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // token counts 1..40 in a deterministic mix; single-space texts so
    // both tokenizers trivially agree
    val docs = (0L until 120L).map { i =>
      val w = 1 + (i * 7 % 40).toInt
      (i, Seq.fill(w)("tok").mkString(" "))
    }
    val got = TextMetrics.weightedSample(docs.toDF("doc_id", "text")
        .repartition(7), "doc_id", "text", k = 25)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    def key(id: Long, w: Long): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"wsample:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val h = java.lang.Long.parseLong(hex.take(15), 16)
      round6(math.log((h + 1).toDouble / math.pow(2, 60)) / w.toDouble) + 0.0
    }
    val want = docs.map { case (i, t) =>
      val w = t.split(" ").length.toLong
      (i, w, key(i, w))
    }.sortBy { case (i, _, k0) => (-k0, i) }.take(25).zipWithIndex
      .map { case ((i, w, k0), r) => (r + 1L, i, w, k0) }
    assert(got.toSeq == want)
    // heavier docs must dominate the sample: the selected mean weight
    // exceeds the population mean (deterministic given the fixture)
    val meanSel = got.map(_._3).sum.toDouble / got.length
    val meanAll = docs.map(_._2.split(" ").length).sum.toDouble / docs.size
    assert(meanSel > meanAll, s"$meanSel <= $meanAll")
  }

  test("logOddsTermsFromTf matches a direct Monroe log-odds reimplementation") {
    // two sources with shared + exclusive vocabulary; topK large enough
    // to return every scored term so the whole relation is compared
    val docs = Seq(
      (1L, "alpha alpha beta shared", "s1"),
      (2L, "alpha shared shared", "s1"),
      (3L, "gamma gamma shared beta", "s2"),
      (4L, "gamma delta", "s2")).toDF("doc_id", "text", "source")
    val tf = TextMetrics.termFrequencies(docs, "doc_id", "text")
    val got = TextMetrics.logOddsTermsFromTf(tf, docs.repartition(3),
        "doc_id", "source", topK = 100)
      .collect()
      .map(r => (r.getString(0), r.getString(2)) ->
        ((r.getLong(1), r.getLong(3), r.getLong(4), r.getDouble(5))))
      .toMap
    // direct reimplementation in Scala doubles (same op order)
    val toks = Seq(
      ("s1", Seq("alpha", "alpha", "beta", "shared", "alpha", "shared", "shared")),
      ("s2", Seq("gamma", "gamma", "shared", "beta", "gamma", "delta")))
    val counts = toks.flatMap { case (s, ts) => ts.map(t => (s, t)) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val vocabAll = counts.keys.map(_._2).toSet
    val vocab = vocabAll.size.toLong
    val nTot = counts.values.sum
    val nG = counts.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val yTot = counts.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    def round6(x: Double) = BigDecimal(x)
      .setScale(10, BigDecimal.RoundingMode.HALF_UP)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val wantRows = counts.toSeq.map { case ((s, t), y) =>
      val yRest = yTot(t) - y
      val nRest = nTot - nG(s)
      val delta = math.log((y + 1).toDouble / (nG(s) + vocab - y - 1).toDouble) -
        math.log((yRest + 1).toDouble / (nRest + vocab - yRest - 1).toDouble)
      val z = delta / math.sqrt(1.0 / (y + 1) + 1.0 / (yRest + 1))
      (s, t, y, yRest, round6(z) + 0.0)
    }
    val want = wantRows.groupBy(_._1).flatMap { case (_, rows) =>
      rows.sortBy(r => (-r._5, r._2)).zipWithIndex.map { case (r, i) =>
        (r._1, r._2) -> ((i + 1L, r._3, r._4, r._5))
      }
    }
    assert(got == want)
  }

  test("phraseSearch: probe arm equals direct counts, overlaps and ties included") {
    // "a a a" holds TWO overlapping "a a" occurrences; doc 2 adds one
    // more (3 total across 2 docs); "b c" appears once per doc (tie
    // with nothing — ranked after "a a"); multi-whitespace must not
    // break adjacency
    val docs = Seq(
      (1L, "a a a  b \t c"), (2L, "a a b\nc"), (3L, "x")).toDF("doc_id", "text")
    val got = TextMetrics.phraseSearch(docs.repartition(3), "doc_id", "text",
        topPhrases = 3)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    // counts: "a a" 3 occ / 2 docs; then ties at 2: "a b"? doc1 "a b"
    // once (3rd a -> b), doc2 "a b" once = 2 occ / 2 docs; "b c" 2/2
    assert(got.toSeq == Seq(
      (1L, "a a", 2L, 3L),
      (2L, "a b", 2L, 2L),
      (3L, "b c", 2L, 2L)))
  }

  test("editVerify: banded Levenshtein, relative rule, ASCII projection") {
    // pair (1,2): distance 1 on "kitten"/"sitten"; (1,3): "kitten" vs
    // "sitting" = 3; (4,5): identical after the ASCII projection drops
    // the é (distance 0, lengths measured post-projection); (6,7):
    // beyond the cap → lev −1, never a duplicate
    val docs = Seq(
      (1L, "kitten"), (2L, "sitten"), (3L, "sitting"),
      (4L, "café au lait"), (5L, "caf au lait"),
      (6L, "a" * 100), (7L, "b" * 100)).toDF("doc_id", "text")
    val cands = Seq((1L, 2L), (1L, 3L), (4L, 5L), (6L, 7L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.editVerify(cands, docs.repartition(3), "doc_id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    assert(got == Map(
      (1L, 2L) -> ((1L, 6L, 6L, 1L)),
      (1L, 3L) -> ((3L, 6L, 7L, 0L)), // 300 > 20·7: close but not 20%
      (4L, 5L) -> ((0L, 11L, 11L, 1L)),
      (6L, 7L) -> ((-1L, 100L, 100L, 0L))))
  }

  test("mrrReport matches hand-computed first-hit registers") {
    // q1: first hit at system rank 2; q2: hit at rank 1; q3: no hit;
    // q4 exists only in the relevance arm (counts toward n_queries)
    val sys = Seq((1L, 1L, 50L), (1L, 2L, 10L), (1L, 3L, 11L),
      (2L, 1L, 20L), (3L, 1L, 70L))
      .toDF("query_id", "rank", "corpus_id")
    val rel = Seq((1L, 1L, 10L), (1L, 2L, 11L), (2L, 1L, 20L),
      (3L, 1L, 99L), (4L, 1L, 5L))
      .toDF("query_id", "rank", "corpus_id")
    val got = Similarity.mrrReport(sys, rel, "query_id", "corpus_id", "rank")
      .collect().head
    val scale = 1000000000000L
    val sumRr = scale / 2 + scale / 1
    def round6(x: Double) = BigDecimal(x)
      .setScale(10, BigDecimal.RoundingMode.HALF_UP)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getDouble(3))
      == ((4L, 2L, sumRr, round6(sumRr.toDouble / (4L * scale).toDouble))))
  }

  test("perplexityBuckets: cross-scoring, OOV floor, per-lang terciles") {
    val docs = Seq(
      (1L, "a b c a b d", "en", "ref"),   // the reference slice
      (2L, "a b c", "en", "web"),         // trigram hit: ln(1/2)
      (3L, "b c d", "en", "web"),         // unigram backoff: ln(.16*1/6)
      (4L, "a b z", "en", "web"),         // OOV floor: same value
      (5L, "x", "en", "web"),             // no trigram position
      (6L, "a b c", "fr", "web"))         // lang with no reference LM
      .toDF("doc_id", "text", "lang", "source")
    def dec10(x: Double) = BigDecimal(x)
      .setScale(10, BigDecimal.RoundingMode.HALF_UP)
    def round6(x: Double) = dec10(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // r1 scores its own four trigram positions: two exact ln(1) = 0
    // and two ln(1/2) terms summed as DECIMAL(28,10), divided by 4
    val r1 = round6((dec10(math.log(0.5)) * 2).toDouble / 4.0)
    val s1 = round6(dec10(math.log(0.5)).toDouble)
    val s2 = round6(dec10(math.log(0.16 * (1.0 / 6.0))).toDouble)
    val got = TextMetrics.perplexityBuckets(docs.repartition(5),
        col("source") === "ref", "doc_id", "text", "lang")
      .collect()
      .map(r => (r.getLong(0),
        (r.getString(1), r.getLong(2), r.getDouble(3), r.getString(4))))
      .toMap
    // unscorable docs (n_scored = 0) rank BELOW every real score — the
    // CCNet drop verdict — so doc 5 lands in tail, never head
    assert(got == Map(
      1L -> (("en", 4L, r1, "head")),
      2L -> (("en", 1L, s1, "middle")),
      3L -> (("en", 1L, s2, "tail")),
      4L -> (("en", 1L, s2, "middle")),
      5L -> (("en", 0L, 0.0, "tail")),
      6L -> (("fr", 0L, 0.0, "tail"))))
  }

  test("kendallTau matches hand-computed concordance registers") {
    // query 1: common items {10,11,12} — A ranks them 1,2,3, B ranks
    // them 3,1,2 → pairs (10,11): A says 10<11, B says 11<10 →
    // discordant; (10,12): A 10<12, B 12<10 → discordant; (11,12):
    // both 11<12 → concordant. τ = (1−2)/3. Query 2: perfect
    // agreement on 2 common items, τ = 1. Query 3: one common item —
    // dropped. Non-common items in either arm must not contribute.
    val armA = Seq((1L, 1L, 10L), (1L, 2L, 11L), (1L, 3L, 12L),
      (1L, 4L, 99L), (2L, 1L, 20L), (2L, 2L, 21L), (3L, 1L, 30L))
      .toDF("query_id", "rank", "corpus_id")
    val armB = Seq((1L, 1L, 11L), (1L, 2L, 12L), (1L, 3L, 10L),
      (1L, 4L, 98L), (2L, 1L, 20L), (2L, 2L, 21L), (3L, 1L, 30L))
      .toDF("query_id", "rank", "corpus_id")
    val got = Similarity.kendallTau(armA.repartition(5), armB,
        "query_id", "corpus_id", "rank")
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    def round6(x: Double) = BigDecimal(x)
      .setScale(10, BigDecimal.RoundingMode.HALF_UP)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Map(
      1L -> ((3L, 1L, 2L, round6(-1.0 / 3.0))),
      2L -> ((2L, 1L, 0L, 1.0))))
  }

  test("stupidBackoffScore matches a direct reimplementation on a tiny corpus") {
    val corpus = Seq((1L, "a b c a b d"), (2L, "a b c c"), (3L, "x"))
    val got = TextMetrics.stupidBackoffScore(
        corpus.toDF("doc_id", "text").repartition(3), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    // independent reimplementation straight from the Brants formula
    val toks = corpus.map { case (id, t) => id -> t.split(" ").toSeq }
    val all = toks.flatMap(_._2)
    val n = all.length.toDouble
    val c1 = all.groupBy(identity).view.mapValues(_.length.toDouble).toMap
    val c2 = toks.flatMap(_._2.sliding(2).filter(_.length == 2))
      .groupBy(identity).view.mapValues(_.length.toDouble).toMap
    val c3 = toks.flatMap(_._2.sliding(3).filter(_.length == 3))
      .groupBy(identity).view.mapValues(_.length.toDouble).toMap
    toks.foreach { case (id, ts) =>
      val terms = (2 until ts.length).map { i =>
        val (w1, w2, w) = (ts(i - 2), ts(i - 1), ts(i))
        val s =
          if (c3.contains(Seq(w1, w2, w)))
            math.log(c3(Seq(w1, w2, w)) / c2(Seq(w1, w2)))
          else if (c2.contains(Seq(w2, w)))
            math.log(0.4 * (c2(Seq(w2, w)) / c1(w2)))
          else math.log(0.16 * (c1(w) / n))
        BigDecimal(s).setScale(10, BigDecimal.RoundingMode.HALF_UP)
      }
      val want =
        if (terms.isEmpty) (0L, 0.0)
        else (terms.length.toLong,
          BigDecimal(terms.sum.doubleValue / terms.length)
            .setScale(10, BigDecimal.RoundingMode.HALF_UP)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      assert(got(id) == want, s"doc $id")
    }
  }

  test("heldOutBackoffScore matches a direct reimplementation: OOV " +
      "excluded and counted, positions 1-2 chains, all backoff orders") {
    val train = Seq((1L, "a b c a b d"), (2L, "b c d"))
    val score = Seq((10L, "a b c"), (11L, "a b z b c"), (12L, "q"),
      (13L, "c a d"))
    val got = TextMetrics.heldOutBackoffScore(
        train.toDF("doc_id", "text").repartition(3), "doc_id", "text",
        score.toDF("doc_id", "text").repartition(2), "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getDouble(6),
          if (r.isNullAt(7)) null else r.getDouble(7)))).toMap
    val ttoks = train.map(_._2.split(" ").toSeq)
    val all = ttoks.flatten
    val n = all.length.toDouble
    val c1 = all.groupBy(identity).view.mapValues(_.length.toDouble).toMap
    val c2 = ttoks.flatMap(_.sliding(2).filter(_.length == 2))
      .groupBy(identity).view.mapValues(_.length.toDouble).toMap
    val c3 = ttoks.flatMap(_.sliding(3).filter(_.length == 3))
      .groupBy(identity).view.mapValues(_.length.toDouble).toMap
    score.foreach { case (id, t) =>
      val ts = t.split(" ").toSeq
      var (oov, tri, bi, uni) = (0L, 0L, 0L, 0L)
      val terms = ts.indices.flatMap { i =>
        val w = ts(i)
        if (!c1.contains(w)) { oov += 1; None }
        else {
          val s =
            if (i == 0) math.log(c1(w) / n)
            else if (i == 1) {
              if (c2.contains(Seq(ts(0), w)))
                math.log(c2(Seq(ts(0), w)) / c1(ts(0)))
              else math.log(0.4 * (c1(w) / n))
            } else if (c3.contains(Seq(ts(i - 2), ts(i - 1), w))) {
              tri += 1
              math.log(c3(Seq(ts(i - 2), ts(i - 1), w)) /
                c2(Seq(ts(i - 2), ts(i - 1))))
            } else if (c2.contains(Seq(ts(i - 1), w))) {
              bi += 1
              math.log(0.4 * (c2(Seq(ts(i - 1), w)) / c1(ts(i - 1))))
            } else { uni += 1; math.log(0.16 * (c1(w) / n)) }
          Some(BigDecimal(s).setScale(10, BigDecimal.RoundingMode.HALF_UP))
        }
      }
      def r6(b: BigDecimal): Double =
        b.setScale(10, BigDecimal.RoundingMode.HALF_UP)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val sumD = if (terms.isEmpty) 0.0 else r6(terms.sum)
      val avg: Any =
        if (terms.isEmpty) null
        else r6(BigDecimal(terms.sum.doubleValue / terms.length))
      assert(got(id) == ((ts.length.toLong, oov, tri, bi, uni, sumD, avg)),
        s"doc $id: ${got(id)}")
    }
    // the fixture must actually exercise every ledger column somewhere
    assert(got.values.exists(_._2 > 0), "no OOV exercised")
    assert(got.values.exists(_._3 > 0), "no trigram hit exercised")
    assert(got.values.exists(_._4 > 0) || got.values.exists(_._5 > 0),
      "no backoff exercised")
    assert(got(12L)._7 == null, "all-OOV doc must carry a null mean")
  }

  test("walkCentrality: hand-computed counts on a cycle+star; isolated scores 0") {
    // cycle 1->2->3->1 plus star spokes 4->2, 5->2; 6 isolated
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 2L), (5L, 2L))
      .toDF("src", "dst")
    val nodes = (1L to 6L).toDF("id")
    val out = Similarity.walkCentrality(edges, "src", "dst", nodes, "id",
        steps = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // n1 = in-degree; n2(v) = sum n1(u) over u->v; n3 likewise
    assert(out(1L) == ((1L, 1L, 3L))) // in: 3; n2: n1(3)=1; n3: n2(3)=3... via 2
    assert(out(2L) == ((3L, 1L, 1L))) // in: 1,4,5; n2: n1(1)=1; n3: n2(1)=1
    assert(out(3L) == ((1L, 3L, 1L))) // in: 2; n2: n1(2)=3; n3: n2(2)=1
    assert(out(4L) == ((0L, 0L, 0L)) && out(5L) == ((0L, 0L, 0L)))
    assert(out(6L) == ((0L, 0L, 0L))) // isolated: 0 at every depth
    // partitioning invariance (pure integer sums)
    val again = Similarity.walkCentrality(edges.repartition(7), "src",
        "dst", nodes.repartition(3), "id", steps = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(again == out)
  }

  test("dupSpanCoverage property: lag device equals brute-force position union") {
    // 60 random docs from a tiny alphabet (lots of accidental repeats);
    // the windowed-lag interval union must equal the brute-force
    // distinct-covered-position count for every doc
    val rnd = new scala.util.Random(11)
    val words = Vector("a", "b", "c", "d")
    val k = 4
    val docsSeq = (0L until 60L).map { i =>
      (i, Seq.fill(4 + rnd.nextInt(25))(words(rnd.nextInt(words.length)))
        .mkString(" "))
    }
    val got = TextMetrics.dupSpanCoverage(docsSeq.toDF("doc_id", "text")
        .repartition(7), "doc_id", "text", k = k, minDocs = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // brute force: fingerprint every window, find multi-doc fps, union
    // covered positions per doc as an explicit position set
    val wins = docsSeq.flatMap { case (id, text) =>
      val t = text.split(" ")
      (0 to t.length - k).map(s => (id, s, t.slice(s, s + k).mkString(" ")))
    }
    val dupFps = wins.groupBy(_._3).filter(_._2.map(_._1).distinct.size >= 2)
      .keySet
    docsSeq.foreach { case (id, text) =>
      val n = text.split(" ").length
      val covered = wins.filter(w => w._1 == id && dupFps(w._3))
        .flatMap(w => w._2 until w._2 + k).distinct.size
      assert(got(id) == ((n.toLong, covered.toLong)), s"doc $id")
    }
  }

  test("dupSpanCoverage: interval union by hand; overlap merges; unique docs score 0") {
    // docs 1 and 2 share the 6-token run "a b c d e f" (two overlapping
    // 5-windows -> union = 6 tokens); doc 3 is unique
    val docs = Seq(
      (1L, "a b c d e f x y z"),   // 9 tokens, covered = 6
      (2L, "p q a b c d e f"),     // 8 tokens, covered = 6
      (3L, "u v w j k l m n"))     // unique: covered = 0
      .toDF("doc_id", "text")
    val out = TextMetrics.dupSpanCoverage(docs, "doc_id", "text",
        k = 5, minDocs = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L) == ((9L, 6L, 0.666667)))
    assert(out(2L) == ((8L, 6L, 0.75)))
    assert(out(3L) == ((8L, 0L, 0.0)))
    // disjoint repeats in ONE doc each count fully (gap > k)
    val docs2 = Seq(
      (1L, "a b c d e Z Z Z a b c d e"), // 13 toks: two disjoint covered runs
      (2L, "a b c d e"))
      .toDF("doc_id", "text")
    val out2 = TextMetrics.dupSpanCoverage(docs2, "doc_id", "text",
        k = 5, minDocs = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out2(1L) == 10L && out2(2L) == 5L)
  }

  test("span/chunk hot-key split: results identical at every hotCap, " +
      "within-doc-only hot fps stay uncovered") {
    // "h h h" is HOT by occupancy but lives in doc 1 ONLY — the split
    // must NOT count it as duplicated (minDocs counts DISTINCT docs:
    // the short-circuit verdict is the pre-counted n_docs, never the
    // raw occupancy). "c c c" is hot AND cross-doc; "x y z" cold
    // cross-doc; doc 4 unique.
    val docs = Seq(
      (1L, Seq.fill(30)("h").mkString(" ") + " x y z q"),
      (2L, "c c c c c c c c c c c c x y z"),
      (3L, "c c c c c c c c c c c c w"),
      (4L, "u v t j k l m n"))
      .toDF("doc_id", "text").repartition(7)
    def covKey(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(_._1).toSeq
    val caps = Seq(1, 3, 64, Int.MaxValue)
    val covs = caps.map(c => covKey(TextMetrics.dupSpanCoverage(
      docs, "doc_id", "text", k = 3, minDocs = 2, hotCap = c)))
    assert(covs.distinct.size == 1, s"dupSpanCoverage diverged: $covs")
    // doc 1's h-run is uncovered; only its "x y z" tail is (3 tokens)
    val byDoc = covs.head.map(r => r._1 -> r._3).toMap
    assert(byDoc(1L) == 3L, s"within-doc hot fp leaked into coverage: $byDoc")
    assert(byDoc(4L) == 0L)
    val rews = caps.map(c => TextMetrics.dupSpanRewrite(
        docs, "doc_id", "text", k = 3, minDocs = 2, hotCap = c)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(5)))
      .sortBy(_._1).toSeq)
    assert(rews.distinct.size == 1, "dupSpanRewrite diverged across caps")
    // chunk family: chunk "c c" recurs hot across docs AND within docs;
    // first occurrence in (doc_id, chunk_id) order is (doc 1, chunk 1) —
    // the only non-dup copy of "c c"
    val cdocs = Seq(
      (1L, "a b c c c c e f"),
      (2L, "c c c c c c c c"),
      (3L, "c c g h"))
      .toDF("doc_id", "text").repartition(5)
    val deds = caps.map(c => TextMetrics.chunkDedup(
        cdocs, "doc_id", "text", maxTokens = 2, hotCap = c)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq)
    assert(deds.distinct.size == 1, s"chunkDedup diverged: $deds")
    assert(deds.head.map(r => r._1 -> r._3).toMap ==
      Map(1L -> 1L, 2L -> 4L, 3L -> 1L))
    val rws = caps.map(c => TextMetrics.chunkDedupRewrite(
        cdocs, "doc_id", "text", maxTokens = 2, hotCap = c)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(4)))
      .sortBy(_._1).toSeq)
    assert(rws.distinct.size == 1, "chunkDedupRewrite diverged across caps")
    // cap 1 trips both short-circuits, each reporting a guard event
    val (_, evs) = Events.scoped("hot") {
      TextMetrics.dupSpanCoverage(docs, "doc_id", "text", k = 3, minDocs = 2, hotCap = 1)
      TextMetrics.chunkDedup(cdocs, "doc_id", "text", maxTokens = 2, hotCap = 1)
    }
    val guards = EventsSpec.guards(evs)
    assert(guards.map(g => (g._1, g._3)) == Seq(("dupSpanCoverage", 1), ("chunkDedup", 1)), guards)
    assert(guards.forall(_._2 > 0))
  }

  test("sampled hot-candidate path (hotCap >= 128, m > 1): results " +
      "identical to exact pre-count and to the uncapped device") {
    // hotCap = 640 → sampling modulus m = 10: the hot-candidate set is
    // derived from a deterministic 1-in-10 xxhash64 row sample + an
    // exact verify (the r19 device), NOT the corpus-scale pre-count.
    // The fixture plants a cross-doc fingerprint with occupancy ~1400
    // (far over cap·4 in expectation at m = 10 — and the sample is a
    // pure hash of the fixture, so this test is deterministic, not
    // probabilistic). Cold docs check the no-candidate arm.
    val hotText = Seq.fill(700)("c").mkString(" ")
    val docs = Seq(
      (1L, hotText + " x y z q"),
      (2L, hotText + " x y z w"),
      (3L, "u v t j k l m n"))
      .toDF("doc_id", "text").repartition(7)
    val caps = Seq(640, 1, Int.MaxValue)
    val covs = caps.map(c => TextMetrics.dupSpanCoverage(
        docs, "doc_id", "text", k = 3, minDocs = 2, hotCap = c)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(_._1).toSeq)
    assert(covs.distinct.size == 1,
      s"dupSpanCoverage diverged between sampled/exact/uncapped: $covs")
    val deds = caps.map(c => TextMetrics.chunkDedup(
        docs, "doc_id", "text", maxTokens = 2, hotCap = c)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq)
    assert(deds.distinct.size == 1,
      s"chunkDedup diverged between sampled/exact/uncapped: $deds")
    // no-hot-key corpus through the sampled arm: candidate set must be
    // empty (the corpus-scale pre-count never runs) and results match
    // the uncapped device
    val cold = Seq((1L, "a b c d e f g h"), (2L, "a b c d x y z w"))
      .toDF("doc_id", "text")
    val a = TextMetrics.dupSpanCoverage(cold, "doc_id", "text", k = 3,
      minDocs = 2, hotCap = 640).collect().map(_.toSeq).toSeq
    val b = TextMetrics.dupSpanCoverage(cold, "doc_id", "text", k = 3,
      minDocs = 2, hotCap = Int.MaxValue).collect().map(_.toSeq).toSeq
    assert(a == b, s"cold corpus diverged under the sampled arm: $a vs $b")
  }
}
