package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Native count_rlike: value parity with the filter-HOF form it
  * replaces (gopherRules' alpha-word rule), null/empty semantics,
  * unanchored matching, SQL-text availability. */
class CountRlikeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def native(c: org.apache.spark.sql.Column, pat: String) =
    call_function("count_rlike", c, lit(pat))
  private def hof(c: org.apache.spark.sql.Column, pat: String) =
    size(filter(c, x => x.rlike(pat))).cast("long")

  test("native equals the filter-HOF form over random token arrays") {
    val rnd = new scala.util.Random(13)
    val pool = Seq("abc", "123", "a1", "", "...", "ZeBrA", "z", "99x")
    val rows = TestSpark.nonLocal(Seq.tabulate(80)(i =>
      (i.toLong, Seq.fill(rnd.nextInt(12))(pool(rnd.nextInt(pool.length)))))
      .toDF("id", "t"))
    for (pat <- Seq("[a-z]", "[0-9]", "^a", "x$", "b.c")) {
      val df = rows.select(native(col("t"), pat).as("nat"),
        hof(col("t"), pat).as("hof"))
      df.collect().foreach(r =>
        assert(r.getLong(0) == r.getLong(1), s"pattern $pat"))
      assert(TestSpark.usesCodegen(df))
    }
  }

  test("null array yields null; null elements count as non-matches; empty is 0") {
    val rows = Seq(
      (1L, Seq("a", "b")), (2L, Seq.empty[String]))
      .toDF("id", "t")
      .union(Seq((3L, null.asInstanceOf[Seq[String]])).toDF("id", "t"))
      .union(spark.sql("SELECT 4L AS id, array('a', CAST(NULL AS STRING), '9') AS t"))
    val out = rows.select(col("id"), native(col("t"), "[a-z]").as("n"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(out(1L) == Some(2L))
    assert(out(2L) == Some(0L))
    assert(out(3L) == None)
    assert(out(4L) == Some(1L))
  }

  test("nfc_normalize composes combining sequences; identity on normalized text; null-safe") {
    // NOTE: Spark SQL's chr() is byte-based (mod 256), unlike DuckDB's
    // codepoint chr() — build the test strings as Scala literals
    val rows = Seq(("café", "café", "plain ascii"))
      .toDF("dec", "comp", "plain")
      .select(
        call_function("nfc_normalize", col("dec")).as("a"),
        call_function("nfc_normalize", col("comp")).as("b"),
        call_function("nfc_normalize", col("plain")).as("c"),
        call_function("nfc_normalize", lit(null).cast("string")).as("d"))
      .head()
    assert(rows.getString(0) == rows.getString(1), "NFC must compose e+U+0301 to é")
    assert(rows.getString(0) == "café")
    assert(rows.getString(2) == "plain ascii")
    assert(rows.isNullAt(3))
  }

  test("matching is unanchored (rlike semantics) and available from SQL text") {
    val got = spark.sql(
      "SELECT count_rlike(array('xay', 'zz', 'a'), 'a')").head().getLong(0)
    assert(got == 2L)
    // a non-literal pattern is rejected at plan time
    val e = intercept[Exception] {
      spark.sql("SELECT count_rlike(array('a'), concat('a', rand()))").head()
    }
    assert(e.getMessage.contains("literal"))
  }
}
