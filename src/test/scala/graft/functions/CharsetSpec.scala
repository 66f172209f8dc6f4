package graft.functions

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Charset front door ([[CharsetKernels]], `decode_page`): BOM sniffing, the strict UTF-8 validator against
  * hand-built byte sequences (overlongs, surrogates, truncations), and
  * the WHATWG windows-1252 fallback — total, injective, smart-quote
  * range mapped per the encoding standard. */
class CharsetSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def utf8(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)

  test("strict UTF-8 validator: valid multibyte accepted; overlongs, " +
      "surrogates, bare continuations, truncations rejected") {
    assert(CharsetKernels.isValidUtf8(utf8("plain ascii")))
    assert(CharsetKernels.isValidUtf8(utf8("café — ±µ 😀 中文")))
    assert(CharsetKernels.isValidUtf8(Array.empty[Byte]))
    // overlong '/' (C0 AF), overlong U+0000 3-byte (E0 80 80)
    assert(!CharsetKernels.isValidUtf8(Array(0xC0, 0xAF).map(_.toByte)))
    assert(!CharsetKernels.isValidUtf8(Array(0xE0, 0x80, 0x80).map(_.toByte)))
    // encoded surrogate U+D800 (ED A0 80)
    assert(!CharsetKernels.isValidUtf8(Array(0xED, 0xA0, 0x80).map(_.toByte)))
    // past U+10FFFF (F4 90 80 80) and illegal lead bytes F5/FF
    assert(!CharsetKernels.isValidUtf8(Array(0xF4, 0x90, 0x80, 0x80).map(_.toByte)))
    assert(!CharsetKernels.isValidUtf8(Array(0xF5.toByte)))
    assert(!CharsetKernels.isValidUtf8(Array(0xFF.toByte)))
    // bare continuation; truncated 2/3/4-byte heads
    assert(!CharsetKernels.isValidUtf8(Array(0x80.toByte)))
    assert(!CharsetKernels.isValidUtf8(Array(0xC3.toByte)))
    assert(!CharsetKernels.isValidUtf8(utf8("café").dropRight(1)))
    assert(!CharsetKernels.isValidUtf8(utf8("😀").dropRight(1)))
  }

  test("detection + decode: BOMs strip, UTF-16 endians decode, invalid " +
      "UTF-8 falls back to WHATWG windows-1252") {
    val text = "héllo wörld ±"
    // the WHATWG cp1252 expectation for 0x80..0x9F: smart punctuation
    // where assigned, the C1 control itself for the five unassigned
    // bytes (the JDK's own cp1252 charset would emit U+FFFD there —
    // lossy; the kernel must not)
    val hi = "\u20AC\u0081\u201A\u0192\u201E\u2026\u2020\u2021" +
      "\u02C6\u2030\u0160\u2039\u0152\u008D\u017D\u008F" +
      "\u0090\u2018\u2019\u201C\u201D\u2022\u2013\u2014" +
      "\u02DC\u2122\u0161\u203A\u0153\u009D\u017E\u0178"
    val cases = Seq(
      ("utf-8", utf8(text), text),
      ("utf-8-bom", Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++ utf8(text), text),
      ("utf-16le", Array(0xFF, 0xFE).map(_.toByte) ++
        text.getBytes(StandardCharsets.UTF_16LE), text),
      ("utf-16be", Array(0xFE, 0xFF).map(_.toByte) ++
        text.getBytes(StandardCharsets.UTF_16BE), text),
      // Latin-1-encodable text decodes identically under cp1252 (the
      // two encodings agree outside 0x80..0x9F)
      ("cp1252", text.getBytes(StandardCharsets.ISO_8859_1), text),
      // the full high range: WHATWG table for 0x80..0x9F, identity for
      // 0xA0..0xFF — total and injective, nothing dropped or replaced
      ("cp1252", (0x80 to 0xFF).map(_.toByte).toArray,
        hi + new String((0xA0 to 0xFF).map(_.toByte).toArray,
          StandardCharsets.ISO_8859_1)),
      ("utf-8", Array.empty[Byte], ""))
    cases.zipWithIndex.foreach { case ((want, bytes, wantText), i) =>
      assert(CharsetKernels.charsetOf(bytes) == want, s"case $i label")
      val page = CharsetKernels.decodePage(bytes)
      assert(page.getUTF8String(0).toString == want, s"case $i page label")
      assert(page.getUTF8String(1).toString == wantText, s"case $i text")
    }
    // a CP1252 smart-quote page: 0x93/0x94 are curly quotes, 0x97 an
    // em dash — the mojibake class the WHATWG fallback exists to fix
    val smart = Array[Byte]('h', 'i', 0x93.toByte, 'q', 0x94.toByte,
      0x97.toByte, 'z')
    assert(CharsetKernels.charsetOf(smart) == "cp1252")
    assert(CharsetKernels.decodePage(smart).getUTF8String(1).toString ==
      "hi“q”—z")
  }

  test("the expressions run inside a plan (codegen path) and agree with " +
      "the kernel") {
    val rows = Seq(
      (1L, utf8("plain")),
      (2L, Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++ utf8("bom'd")),
      (3L, "café".getBytes(StandardCharsets.ISO_8859_1)),
      (4L, Array(0xFF, 0xFE).map(_.toByte) ++
        "wide".getBytes(StandardCharsets.UTF_16LE)),
      (5L, Array(0xFE, 0xFF).map(_.toByte) ++
        "wide".getBytes(StandardCharsets.UTF_16BE)))
    val page = call_function("decode_page", col("raw"))
    val df = TestSpark.nonLocal(rows.toDF("id", "raw"))
      .select(col("id"), page.getField("charset").as("cs"),
        page.getField("text").as("t"))
    val out = df.collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(TestSpark.usesCodegen(df))
    assert(out(1L) == (("utf-8", "plain")))
    assert(out(2L) == (("utf-8-bom", "bom'd")))
    assert(out(3L) == (("cp1252", "café")))
    assert(out(4L) == (("utf-16le", "wide")))
    assert(out(5L) == (("utf-16be", "wide")))
  }
}
