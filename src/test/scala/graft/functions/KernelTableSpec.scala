package graft.functions

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Every [[Kernels]] row, registered by [[graft.GraftExtensions]]: the
  * SQL name resolves from SQL text and returns the pinned value, a wrong
  * arity and a wrong input type fail with their messages, a null input
  * gives null, and interpreted eval equals the generated code on a
  * null-bearing fixture. */
class KernelTableSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private case class Case(
      sql: String, want: Any, // a literal call and its value
      onFixture: String, // the call over the fixture's columns
      arityMessage: String, // for `name()`
      badType: String, typeMessage: String)

  private val cases: Map[String, Case] = Map(
    "stem_tokens" -> Case(
      "stem_tokens(array('running', 'tables', 'happily', 'agreed', 'caresses'))",
      Seq("run", "tabl", "happili", "agre", "caress"), "stem_tokens(toks)",
      "stem_tokens expects exactly 1 argument, got 0",
      "stem_tokens(s)", "stem_tokens requires array<string>, got string"),
    "vec_quantize" -> Case(
      "vec_quantize(array(CAST(1.5 AS FLOAT), CAST(-2.25 AS FLOAT)), 1000000.0)",
      Seq(1500000L, -2250000L), "vec_quantize(v, 1000000.0)",
      "vec_quantize expects (array, scale), got 0 arguments",
      "vec_quantize(a, 2)",
      "vec_quantize requires array<float> or array<double>, got array<bigint>"),
    "dot_longs" -> Case(
      "dot_longs(array(2L, 3L), array(5L, 1L))", 2L * 5L + 3L * 1L,
      "dot_longs(a, b)", "dot_longs expects exactly 2 arguments, got 0",
      "dot_longs(a, v)",
      "dot_longs requires two array<bigint>, got array<bigint>, array<float>"),
    "maxabs_longs" -> Case(
      "maxabs_longs(array(3L, -4L))", 4L, "maxabs_longs(a)",
      "maxabs_longs expects exactly 1 argument, got 0",
      "maxabs_longs(v)", "maxabs_longs requires array<bigint>, got array<float>"),
    "sq8_sqerr_longs" -> Case(
      "sq8_sqerr_longs(array(3L, -4L))", 1L, "sq8_sqerr_longs(a)",
      "sq8_sqerr_longs expects exactly 1 argument, got 0",
      "sq8_sqerr_longs(s)", "sq8_sqerr_longs requires array<bigint>, got string"),
    "sub_longs" -> Case(
      "sub_longs(array(5L, 1L), array(2L, 3L))", Seq(3L, -2L),
      "sub_longs(a, b)", "sub_longs expects exactly 2 arguments, got 0",
      "sub_longs(s, b)",
      "sub_longs requires two array<bigint>, got string, array<bigint>"),
    "sqdist_longs" -> Case(
      "sqdist_longs(array(2L, 3L), array(5L, 1L))", 9L + 4L,
      "sqdist_longs(a, b)", "sqdist_longs expects exactly 2 arguments, got 0",
      "sqdist_longs(a, toks)",
      "sqdist_longs requires two array<bigint>, got array<bigint>, array<string>"),
    "nfc_normalize" -> Case(
      "nfc_normalize('cafe\u0301')", "caf\u00e9", "nfc_normalize(s)",
      "nfc_normalize expects exactly 1 argument, got 0",
      "nfc_normalize(raw)", "nfc_normalize requires string, got binary"),
    "decode_page" -> Case(
      "decode_page(X'EFBBBF626F6D2764')", Row("utf-8-bom", "bom'd"),
      "decode_page(raw)", "decode_page expects exactly 1 argument, got 0",
      "decode_page(s)", "decode_page requires binary, got string"),
    "decode_html_refs" -> Case(
      "decode_html_refs('a &amp; b &mdash; &RSQUO;')", "a & b — &RSQUO;",
      "decode_html_refs(s)", "decode_html_refs expects exactly 1 argument, got 0",
      "decode_html_refs(toks)",
      "decode_html_refs requires string, got array<string>"),
    "redact_cards" -> Case(
      "redact_cards('pay 4539578763621486 now')", "pay <CARD> now",
      "redact_cards(s)", "redact_cards expects exactly 1 argument, got 0",
      "redact_cards(a)", "redact_cards requires string, got array<bigint>"),
    "count_ranges" -> Case(
      "count_ranges('abc АБВ', 'a-z;\\u0410-\\u042F')", Seq(3L, 3L),
      "count_ranges(s, 'a-z;\\u0410-\\u042F')",
      "count_ranges expects (str, spec), got 0 arguments",
      "count_ranges(toks, 'a-z')",
      "count_ranges requires string, got array<string>"),
    "count_substrs" -> Case(
      "count_substrs('abab', array('ab', 'b', 'x'))", Seq(2L, 2L, 0L),
      "count_substrs(s, array('ab', 'a'))",
      "count_substrs expects (str, grams), got 0 arguments",
      "count_substrs(raw, array('a'))",
      "count_substrs requires string, got binary"),
    "tokenize_mixed" -> Case(
      "tokenize_mixed('ab 中文字')", Seq("ab", "中文", "文字"),
      "tokenize_mixed(s)", "tokenize_mixed expects exactly 1 argument, got 0",
      "tokenize_mixed(toks)", "tokenize_mixed requires string, got array<string>"),
    "robots_match" -> Case(
      "robots_match('/q*x$', '/q/ax')", true, "robots_match(pat, path)",
      "robots_match expects (pattern, path), got 0 arguments",
      "robots_match(pat, raw)",
      "robots_match requires (string, string), got string, binary"),
    "count_rlike" -> Case(
      "count_rlike(array('xay', 'zz', 'a'), 'a')", 2L,
      "count_rlike(toks, '[a-z]')",
      "count_rlike expects (array, pattern), got 0 arguments",
      "count_rlike(s, 'a')", "count_rlike requires array<string>, got string"))

  private lazy val fixture = TestSpark.nonLocal(
    Seq[(Long, Seq[String], Seq[java.lang.Float], Seq[java.lang.Long],
        Seq[java.lang.Long], String, Array[Byte], String, String)](
      (1L, Seq("running", null, "agreed"), Seq[java.lang.Float](1.5f, -2.25f),
        Seq[java.lang.Long](2L, 3L), Seq[java.lang.Long](5L, 1L),
        "cafe\u0301 &amp; 4539578763621486 abab АБВ 中文字",
        "plain".getBytes("UTF-8"), "/q*", "/q/x"),
      (2L, null, null, null, null, null, null, null, null),
      (3L, Seq.empty[String], Seq[java.lang.Float](null, 0.5f),
        Seq[java.lang.Long](1L, null), Seq[java.lang.Long](1L), "",
        Array(0xFF, 0xFE, 0x77, 0x00).map(_.toByte), "/a$", "/a/"))
      .toDF("id", "toks", "v", "a", "b", "s", "raw", "pat", "path"))

  private def message(sql: String): String =
    intercept[Exception](spark.sql(s"SELECT $sql").collect()).getMessage

  test("the table covers every registered kernel name") {
    assert(Kernels.all.map(_.name).toSet == cases.keySet)
    cases.keys.foreach(n =>
      assert(spark.catalog.functionExists(n), s"$n is not registered"))
  }

  test("every row is one of the shapes the registration builds: one or " +
      "two columns, or one column and a literal (binary in SQL)") {
    Kernels.all.foreach { k =>
      val shape = (k.inputs.length, k.literal.isDefined)
      assert(Set((1, false), (2, false), (1, true))(shape), s"${k.name}: $shape")
    }
  }

  for ((name, c) <- cases.toSeq.sortBy(_._1)) test(s"$name: resolves from " +
      "SQL text, checks arity and input type, nulls, interpreted = codegen") {
    assert(spark.sql(s"SELECT ${c.sql}").head().get(0) == c.want)
    assert(message(s"$name()").contains(c.arityMessage))
    fixture.createOrReplaceTempView("kernel_fixture")
    assert(message(s"${c.badType} FROM kernel_fixture").contains(c.typeMessage))

    def run(): (Seq[Row], Boolean) = {
      val df = spark.sql(s"SELECT id, ${c.onFixture} AS k FROM kernel_fixture")
      val rows = df.collect().toSeq.sortBy(_.getLong(0))
      (rows, TestSpark.usesCodegen(df))
    }
    val (interpreted, interpretedUsedCodegen) = TestSpark.withConf(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(run())
    val (generated, usedCodegen) = run()
    assert(!interpretedUsedCodegen && usedCodegen)
    assert(interpreted.map(_.get(0)) == Seq(1L, 2L, 3L))
    assert(interpreted(1).isNullAt(1), s"$name of null inputs")
    assert(interpreted == generated)
  }
}
