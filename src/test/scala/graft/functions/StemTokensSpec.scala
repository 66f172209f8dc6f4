package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Native stem_tokens expression: value parity with the UDF form across
  * interpreted and codegen paths, null handling (SQL-text availability is
  * a [[KernelTableSpec]] row). */
class StemTokensSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val fixtures = Seq(
    (1L, Seq("running", "tables", "happily", "agreed", "caresses")),
    (2L, Seq("", "a", "sky")),
    (3L, Seq.empty[String]),
    (4L, null.asInstanceOf[Seq[String]]))

  test("native expression equals the UDF form, including nulls and empties") {
    val df = TestSpark.nonLocal(fixtures.toDF("id", "toks")).select(col("id"),
      TextFunctions.stemTokens(col("toks")).as("native"),
      TextFunctions.stemTokensUdfForm(col("toks")).as("viaUdf"))
    val both = df.collect()
    assert(TestSpark.usesCodegen(df))
    both.foreach { r =>
      assert(r.getAs[collection.Seq[String]]("native") == r.getAs[collection.Seq[String]]("viaUdf"),
        s"id=${r.getLong(0)}")
    }
  }

  test("interpreted eval matches codegen output") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    // direct interpreted eval of the expression kernel
    val in = new GenericArrayData(
      Array[AnyRef](UTF8String.fromString("running"), null, UTF8String.fromString("agreed")))
    val out = StemTokens.evalArray(in)
    assert(out.getUTF8String(0).toString == "run")
    assert(out.isNullAt(1))
    assert(out.getUTF8String(2).toString == "agre")
  }
}
