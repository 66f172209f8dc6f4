package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.telemetry.{Events, EventsSpec}

/** Perceptual dHash image near-dup device (q199): the decode-side
  * kernel pinned against an independent closed-form reimplementation,
  * the planted 1-pixel-perturbation staying within Hamming 2, and the
  * 8-band bucket join's EXACT-recall contract (result set == brute
  * all-pairs at the threshold — the pigeonhole guarantee, not a
  * probabilistic one). */
class DHashSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Independent driver-side dHash from the closed-form pixel generator
    * (never touches a codec or the kernel under test): the same 9×8
    * nearest-neighbor grid, gray = r+g+b, strict gradient compare. */
  private def brute(gen: Long, perturbed: Boolean): (Long, Long) = {
    val w = (8 + gen % 9).toInt
    val h = (8 + gen % 7).toInt
    def gray(sx: Int, sy: Int): Int = {
      val r0 = ((gen * 31 + sx * 7 + sy * 13) % 256).toInt
      val r = if (perturbed && sx == 0 && sy == 0) (r0 + 128) % 256 else r0
      r + ((gen * 17 + sx * 11 + sy * 3) % 256).toInt +
        ((gen * 5 + sx * 23 + sy * 29) % 256).toInt
    }
    var hi = 0L
    var lo = 0L
    for (gy <- 0 until 8; gx <- 0 until 8) {
      if (gray(gx * w / 9, gy * h / 8) > gray((gx + 1) * w / 9, gy * h / 8)) {
        val idx = gy * 8 + gx
        if (idx >= 32) hi |= 1L << (idx - 32) else lo |= 1L << idx
      }
    }
    (hi, lo)
  }

  private def hamming(a: (Long, Long), b: (Long, Long)): Int =
    java.lang.Long.bitCount(a._1 ^ b._1) + java.lang.Long.bitCount(a._2 ^ b._2)

  test("dHashes through the real PNG codec matches the generator-formula reimplementation") {
    import spark.implicits._
    val ids = (0L until 120L).toDF("doc_id").repartition(7)
    val got = Multimodal.dHashes(Multimodal.syntheticNearDupPngs(ids, "doc_id"))
      .collect().map(d => d.media_id -> ((d.hash_hi, d.hash_lo))).toMap
    assert(got.size == 120)
    (0L until 120L).foreach { id =>
      assert(got(id) == brute(id / 2, id % 2 == 1),
        s"kernel hash diverges from the closed form at id=$id")
    }
    // both halves stay non-negative 32-bit values (the no-sign-bit contract)
    got.values.foreach { case (hi, lo) =>
      assert(hi >= 0L && hi < (1L << 32) && lo >= 0L && lo < (1L << 32))
    }
  }

  test("1-pixel perturbation stays within Hamming 2 of its base, and actually moves some hash") {
    val ds = (0L until 200L).map(g => hamming(brute(g, false), brute(g, true)))
    assert(ds.forall(_ <= 2),
      "a (0,0) perturbation can move at most the two grid compares that sample it")
    assert(ds.exists(_ >= 1), "the perturbation must flip at least one bit somewhere")
  }

  test("dhashNearDups == brute all-pairs at Hamming <= 6 (exact recall), planted pairs all caught") {
    import spark.implicits._
    val n = 150L
    val ids = (0L until n).toDF("doc_id").repartition(5)
    val hashes = Multimodal.dHashes(
      Multimodal.syntheticNearDupPngs(ids, "doc_id")).toDF()
    val got = Multimodal.dhashNearDups(hashes, maxHamming = 6)
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Long]("hamming")).toMap
    val all = (0L until n).map(id => id -> brute(id / 2, id % 2 == 1)).toMap
    val want = (for {
      a <- 0L until n; b <- (a + 1) until n
      d = hamming(all(a), all(b)) if d <= 6
    } yield (a, b) -> d.toLong).toMap
    assert(got == want,
      "band-bucket candidates + integer verify must equal brute all-pairs at the threshold")
    // every planted (2k, 2k+1) near-dup pair is caught at Hamming <= 2
    (0L until n / 2).foreach { g =>
      val key = (2 * g, 2 * g + 1)
      assert(got.contains(key) && got(key) <= 2L,
        s"planted near-dup pair $key missed or too distant")
    }
    // distinct generators are overwhelmingly NOT paired
    assert(got.size < (n * (n - 1) / 2) / 10,
      "near-dup output must be sparse over distinct images")
  }

  test("dhashNearDups rejects a threshold past the 8-band pigeonhole guarantee") {
    import spark.implicits._
    val hashes = Seq((1L, 0L, 0L)).toDF("media_id", "hash_hi", "hash_lo")
    intercept[IllegalArgumentException] {
      Multimodal.dhashNearDups(hashes, maxHamming = 8)
    }
  }

  test("maxBucket excludes a degenerate band key loudly instead of joining it quadratically") {
    import spark.implicits._
    // 50 identical fingerprints (every band bucket holds all 50) plus
    // one distinct pair within Hamming 1 of each other but 16+ bits
    // from the flat cluster (so no cross pair can pass the verify)
    val flat = (0L until 50L).map(id => (id, 0L, 0L))
    val pair = Seq((100L, 255L, 65280L), (101L, 255L, 65281L)) // lo differs by 1 bit
    val hashes = (flat ++ pair).toDF("media_id", "hash_hi", "hash_lo")
    val uncapped = Multimodal.dhashNearDups(hashes, maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.size == 50 * 49 / 2 + 1, "uncapped: all flat pairs + the planted pair")
    val (capped, evs) = Events.scoped("capped") {
      Multimodal.dhashNearDups(hashes, maxHamming = 6, maxBucket = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(capped == Set((100L, 101L)),
      "capped: the degenerate key's quadratic bucket is excluded, the healthy pair survives")
    val guards = EventsSpec.guards(evs)
    assert(guards.map(g => (g._1, g._3)) == Seq(("dhashNearDups", 10)), guards)
    assert(guards.head._2 > 0)
  }

  /** Independent closed-form audio envelope hash (never touches the
    * codec): 65 windows by i*65/n, Σ|v| energies, strict gradient. */
  private def bruteAudio(gen: Long, perturbed: Boolean): (Long, Long) = {
    val n = (64 + gen % 65).toInt
    val energy = new Array[Long](65)
    for (i <- 0 until n) {
      val v0 = (((gen * 37 + i.toLong * 9973) % 65536) - 32768).toInt
      val v = if (perturbed && i == 0) (((gen * 37 + 8192) % 65536) - 32768).toInt
        else v0
      energy(i * 65 / n) += math.abs(v)
    }
    var hi = 0L
    var lo = 0L
    for (w <- 0 until 64 if energy(w) > energy(w + 1)) {
      if (w >= 32) hi |= 1L << (w - 32) else lo |= 1L << w
    }
    (hi, lo)
  }

  test("audioEnvelopeHashes through the real WAV codec matches the closed form; planted pair within Hamming 1; exact recall") {
    import spark.implicits._
    val n = 150L
    val ids = (0L until n).toDF("doc_id").repartition(6)
    val hashes = Multimodal.audioEnvelopeHashes(
      Multimodal.syntheticNearDupWavs(ids, "doc_id"))
    val got = hashes.collect().map(d => d.media_id -> ((d.hash_hi, d.hash_lo))).toMap
    (0L until n).foreach { id =>
      assert(got(id) == bruteAudio(id / 2, id % 2 == 1),
        s"audio kernel diverges from the closed form at id=$id")
    }
    (0L until n / 2).foreach { g =>
      assert(hamming(bruteAudio(g, false), bruteAudio(g, true)) <= 1,
        s"1-sample perturbation must stay within Hamming 1 (gen=$g)")
    }
    val pairs = Multimodal.dhashNearDups(hashes.toDF(), maxHamming = 6)
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Long]("hamming")).toMap
    val want = (for {
      a <- 0L until n; b <- (a + 1) until n
      d = hamming(got(a), got(b)) if d <= 6
    } yield (a, b) -> d.toLong).toMap
    assert(pairs == want, "audio bucket join must equal brute all-pairs at the threshold")
    (0L until n / 2).foreach(g => assert(pairs.contains((2 * g, 2 * g + 1))))
  }

  /** Independent closed-form video fingerprint: per-frame 9×8 gradient
    * bits over the 256-gray generator, strict-majority pooled. */
  private def bruteVideo(gen: Long, perturbed: Boolean): (Long, Long) = {
    val w = (4 + gen % 5).toInt
    val h = (4 + gen % 3).toInt
    val nf = (2 + gen % 4).toInt
    def gray(f: Int, sx: Int, sy: Int): Int = {
      val g0 = ((gen * 31 + f * 7 + sx * 89 + sy * 97) % 256).toInt
      if (perturbed && f == 0 && sx == 0 && sy == 0) (g0 + 128) % 256 else g0
    }
    val votes = new Array[Int](64)
    for (f <- 0 until nf; gy <- 0 until 8; gx <- 0 until 8) {
      if (gray(f, gx * w / 9, gy * h / 8) > gray(f, (gx + 1) * w / 9, gy * h / 8))
        votes(gy * 8 + gx) += 1
    }
    var hi = 0L
    var lo = 0L
    for (i <- 0 until 64 if 2 * votes(i) > nf) {
      if (i >= 32) hi |= 1L << (i - 32) else lo |= 1L << i
    }
    (hi, lo)
  }

  test("videoDHashes through the real GIF codec matches the closed form; single-frame edit within Hamming 2; exact recall") {
    import spark.implicits._
    val n = 100L
    val ids = (0L until n).toDF("doc_id").repartition(4)
    val hashes = Multimodal.videoDHashes(
      Multimodal.syntheticNearDupGifs(ids, "doc_id"))
    val got = hashes.collect().map(d => d.media_id -> ((d.hash_hi, d.hash_lo))).toMap
    (0L until n).foreach { id =>
      assert(got(id) == bruteVideo(id / 2, id % 2 == 1),
        s"video kernel diverges from the closed form at id=$id")
    }
    // majority pooling bounds the single-frame edit's reach: at most
    // the two grid compares sampling the edited pixel can change vote
    // counts, so the pooled signature moves by at most 2 bits
    (0L until n / 2).foreach { g =>
      assert(hamming(bruteVideo(g, false), bruteVideo(g, true)) <= 2,
        s"single-frame edit must stay within Hamming 2 (gen=$g)")
    }
    val pairs = Multimodal.dhashNearDups(hashes.toDF(), maxHamming = 6)
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Long]("hamming")).toMap
    val want = (for {
      a <- 0L until n; b <- (a + 1) until n
      d = hamming(got(a), got(b)) if d <= 6
    } yield (a, b) -> d.toLong).toMap
    assert(pairs == want, "video bucket join must equal brute all-pairs at the threshold")
    (0L until n / 2).foreach(g => assert(pairs.contains((2 * g, 2 * g + 1))))
  }
}
