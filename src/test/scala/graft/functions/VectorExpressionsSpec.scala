package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Native vec_quantize / dot_longs / sqdist_longs: value parity with the
  * higher-order-function forms (the previous implementation), null and
  * length-mismatch semantics, interpreted-vs-codegen agreement (each
  * name's SQL-text availability is a [[KernelTableSpec]] row). */
class VectorExpressionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("quantize: native equals HOF form over random float vectors") {
    val rnd = new scala.util.Random(7)
    val vecs = Seq.tabulate(60)(i =>
      (i.toLong, Seq.fill(16)((rnd.nextFloat() - 0.5f) * 20f)))
    val df = TestSpark.nonLocal(vecs.toDF("id", "v")).select(
      VectorFunctions.quantize(col("v")).as("nat"),
      VectorFunctions.quantizeHof(col("v")).as("hof"))
    assert(TestSpark.usesCodegen(df))
    df.collect().foreach { r =>
      assert(r.getAs[collection.Seq[Long]]("nat") == r.getAs[collection.Seq[Long]]("hof"))
    }
  }

  test("dot and sqdist: native equals HOF form over random quantized vectors") {
    val rnd = new scala.util.Random(11)
    def vec() = Seq.fill(16)(rnd.nextLong() % 1000000L)
    val pairs = Seq.tabulate(60)(i => (i.toLong, vec(), vec()))
    val df = TestSpark.nonLocal(pairs.toDF("id", "a", "b")).select(
      VectorFunctions.dotExact(col("a"), col("b")).as("dn"),
      VectorFunctions.dotExactHof(col("a"), col("b")).as("dh"),
      VectorFunctions.sqDistExact(col("a"), col("b")).as("sn"),
      VectorFunctions.sqDistExactHof(col("a"), col("b")).as("sh"))
    assert(TestSpark.usesCodegen(df))
    df.collect().foreach { r =>
      assert(r.getLong(0) == r.getLong(1))
      assert(r.getLong(2) == r.getLong(3))
    }
  }

  test("length mismatch and null element yield null, like zip_with padding") {
    val df = TestSpark.nonLocal(Seq(
      (1L, Seq[java.lang.Long](1L, 2L), Seq[java.lang.Long](3L)),
      (2L, Seq[java.lang.Long](1L, null), Seq[java.lang.Long](3L, 4L)),
      (3L, null.asInstanceOf[Seq[java.lang.Long]], Seq[java.lang.Long](3L))
    ).toDF("id", "a", "b")).select(col("id"),
      VectorFunctions.dotExact(col("a"), col("b")).as("dn"),
      VectorFunctions.dotExactHof(col("a"), col("b")).as("dh"),
      VectorFunctions.sqDistExact(col("a"), col("b")).as("sn"),
      VectorFunctions.sqDistExactHof(col("a"), col("b")).as("sh"))
    assert(TestSpark.usesCodegen(df))
    df.collect().foreach { r =>
      assert(r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3) && r.isNullAt(4),
        s"id=${r.getLong(0)}")
    }
  }

  test("sub_longs: native equals zip_with on equal lengths; null semantics") {
    val rnd = new scala.util.Random(17)
    def vec() = Seq.fill(16)(rnd.nextLong() % 2000000L)
    val df = TestSpark.nonLocal(Seq.tabulate(60)(i => (i.toLong, vec(), vec()))
      .toDF("id", "a", "b")).select(
        VectorFunctions.subExact(col("a"), col("b")).as("nat"),
        VectorFunctions.subExactHof(col("a"), col("b")).as("hof"))
    assert(TestSpark.usesCodegen(df))
    df.collect().foreach { r =>
      assert(r.getAs[collection.Seq[Long]]("nat") ==
        r.getAs[collection.Seq[Long]]("hof"))
    }
    // null elements propagate per position; the NATIVE form returns a
    // null ARRAY on length mismatch (zip_with instead pads — callers
    // always subtract equal-dimension vectors, so the loud-null is the
    // safer contract for the residual kernel)
    val edge = Seq(
      (1L, Seq[java.lang.Long](1L, null), Seq[java.lang.Long](3L, 4L)),
      (2L, Seq[java.lang.Long](1L, 2L), Seq[java.lang.Long](3L)))
      .toDF("id", "a", "b")
      .select(col("id"), VectorFunctions.subExact(col("a"), col("b")).as("s"))
      .orderBy("id").collect()
    assert(edge(0).getAs[collection.Seq[java.lang.Long]]("s") ==
      Seq[java.lang.Long](-2L, null))
    assert(edge(1).isNullAt(1))
  }

  test("packDistId orders like struct(d, id); bitsFor covers the id domain") {
    assert(VectorFunctions.bitsFor(0L) == 1)
    assert(VectorFunctions.bitsFor(1L) == 1)
    assert(VectorFunctions.bitsFor(15L) == 4)
    assert(VectorFunctions.bitsFor(16L) == 5)
    assert(VectorFunctions.bitsFor(32767L) == 15)
    val rnd = new scala.util.Random(13)
    val rows = Seq.tabulate(300)(i =>
      (i.toLong % 25, math.abs(rnd.nextLong()) % (1L << 40), rnd.nextInt(1 << 12).toLong))
      .toDF("key", "d", "id")
    val viaStruct = rows.groupBy("key")
      .agg(min(struct(col("d"), col("id"))).getField("id").as("arg"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaPacked = rows.groupBy("key")
      .agg(VectorFunctions.unpackId(
        min(VectorFunctions.packDistId(col("d"), col("id"), 12)), 12).as("arg"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaStruct == viaPacked)
  }

  test("maxabs and sq8 error: closed forms, null element, SQL availability") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    // [3, -4]: s=4; m=3 → code 3*127/4=95, rec 95*4/127=2, err 1;
    // m=4 → code 127, rec 4, err 0 → total 1
    assert(VectorKernels.maxAbsLongs(
      new GenericArrayData(Array[Any](3L, -4L))) == 4L)
    assert(VectorKernels.sq8SqErrLongs(
      new GenericArrayData(Array[Any](3L, -4L))) == 1L)
    // all-zero vector: scale 0 → zero error, no division
    assert(VectorKernels.sq8SqErrLongs(
      new GenericArrayData(Array[Any](0L, 0L))) == 0L)
    // the scale element itself always reconstructs exactly
    assert(VectorKernels.sq8SqErrLongs(
      new GenericArrayData(Array[Any](1000000L))) == 0L)
    assert(VectorKernels.maxAbsLongs(
      new GenericArrayData(Array[Any](1L, null))) == null)
    assert(VectorKernels.sq8SqErrLongs(
      new GenericArrayData(Array[Any](1L, null))) == null)
    // through the registered SQL functions (exercises codegen path)
    Seq((Seq(3L, -4L), Seq[java.lang.Long](1L, null)))
      .toDF("a", "n").createOrReplaceTempView("sq8_in")
    val r = spark.sql(
      """SELECT maxabs_longs(a) AS m, sq8_sqerr_longs(a) AS e,
        |       maxabs_longs(n) AS mn, sq8_sqerr_longs(n) AS en
        |FROM sq8_in""".stripMargin).collect().head
    assert(r.getLong(0) == 4L && r.getLong(1) == 1L)
    assert(r.isNullAt(2) && r.isNullAt(3))
  }

  test("interpreted eval matches the kernel used by codegen") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val a = new GenericArrayData(Array[Any](2L, -3L, 7L))
    val b = new GenericArrayData(Array[Any](5L, 4L, -1L))
    assert(VectorKernels.dotLongs(a, b) == 2L * 5 - 3L * 4 - 7L)
    assert(VectorKernels.sqdistLongs(a, b) == 9L + 49L + 64L)
    val q = VectorKernels.quantize(
      new GenericArrayData(Array[Any](1.5f, -2.25f)), isFloat = true, 1e6)
    assert(q.toLongArray().toSeq == Seq(1500000L, -2250000L))
    // floor, not truncate: negative values round toward -inf
    val qn = VectorKernels.quantize(
      new GenericArrayData(Array[Any](-0.1234567d)), isFloat = false, 1e6)
    assert(qn.toLongArray().toSeq == Seq(-123457L))
  }
}
