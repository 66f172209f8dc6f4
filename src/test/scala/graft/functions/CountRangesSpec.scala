package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Native count_ranges: value parity with the strip-diff regex device
  * it replaces (`length(x) − length(regexp_replace(x, '[class]', ''))`
  * per class — the q241/q137 seven-pass shape), spec parsing (escape
  * and literal endpoints, singletons), codepoint semantics past the
  * BMP, null/empty behavior (SQL-text availability is a
  * [[KernelTableSpec]] row). */
class CountRangesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def native(c: org.apache.spark.sql.Column, spec: String) =
    call_function("count_ranges", c, lit(spec))

  test("one-scan counts equal the per-class strip-diff regex device") {
    // mixed scripts, the q241 range table verbatim
    val spec = graft.pipeline.TextMetrics.ScriptRanges.map(_._2)
      .mkString(";")
    val rows = TestSpark.nonLocal(Seq(
      (1L, "hello мир 你好 مرحبا γειά 안녕 नमस्ते 123 !@#"),
      (2L, "Ångström Straße café ÷×"), // carved-out × ÷ stay uncounted
      (3L, ""),
      (4L, "ΑΒΓαβγ ЀЁӿ 一鿿 ؀ۿ 가힯"),
      (5L, "plain ascii words only"))
      .toDF("id", "t"))
    val natDf = rows.select(col("id"), native(col("t"), spec).as("c"))
    val nat = natDf.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(TestSpark.usesCodegen(natDf))
    val strip = graft.pipeline.TextMetrics.ScriptRanges.map { case (_, r) =>
      (length(col("t")) - length(regexp_replace(col("t"), s"[$r]", "")))
        .cast("long")
    }
    val want = rows.select(col("id") +: strip.zipWithIndex.map {
        case (c, i) => c.as(s"c$i") }: _*)
      .collect().map(r => r.getLong(0) ->
        (1 to graft.pipeline.TextMetrics.ScriptRanges.length)
          .map(r.getLong(_)).toSeq).toMap
    assert(nat.keySet == want.keySet)
    nat.keySet.foreach(k => assert(nat(k) == want(k), s"id=$k"))
  }

  test("supplementary codepoints count as ONE (length semantics), and " +
      "a class covering them matches") {
    // 😀 is U+1F600 — outside every BMP class; a supplementary class
    // counts it once, not twice (surrogate pairs are one codepoint)
    val rows = Seq((1L, "a😀b😀")).toDF("id", "t")
    val out = rows.select(
        native(col("t"), "a-z;\\u0041-\\u005A").as("c1"),
        length(col("t")).cast("long").as("n")).collect()(0)
    assert(out.getSeq[Long](0) == Seq(2L, 0L))
    assert(out.getLong(1) == 4L) // codepoints, not UTF-16 units
  }

  test("spec parsing: singletons, literal endpoints, multi-range classes") {
    val rows = Seq((1L, "x-y_z09")).toDF("id", "t")
    // class 0: literal singleton '-'; class 1: two ranges; class 2:
    // escape + literal mixed
    val out = rows.select(native(col("t"), "_;0-4x-z;\\u0039").as("c"))
      .collect()(0).getSeq[Long](0)
    assert(out == Seq(1L, 4L, 1L)) // '_' ; 'x','y','z','0' ; '9'
  }

  test("null text yields null; empty text yields zero counts") {
    val rows = spark.sql(
      "SELECT 1L AS id, CAST(NULL AS STRING) AS t UNION ALL SELECT 2L, ''")
    val out = rows.select(col("id"), native(col("t"), "a-z").as("c"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Long](1))).toMap
    assert(out(1L) == null)
    assert(out(2L) == Seq(0L))
  }
}
