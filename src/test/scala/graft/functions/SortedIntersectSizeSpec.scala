package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnShim

class SortedIntersectSizeSpec extends SparkTestBase {

  private def kernel(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column) =
    ColumnShim.column(graft.functions.expressions.SortedLongIntersectSize(
      ColumnShim.expression(a), ColumnShim.expression(b)))

  test("matches size(array_intersect) on random sorted long arrays, " +
    "including duplicates, empties and disjoint/identical pairs") {
    val ss = spark
    import ss.implicits._
    val rnd = new scala.util.Random(7)
    // small value domain so overlaps AND in-array duplicates are common
    def arr(): Seq[Long] =
      Seq.fill(rnd.nextInt(40))(rnd.nextInt(30).toLong).sorted
    val rows = (1 to 500).map { i =>
      (i, arr(), arr())
    } ++ Seq(
      (1001, Seq.empty[Long], Seq(1L, 2L, 3L)),
      (1002, Seq(1L, 2L, 3L), Seq.empty[Long]),
      (1003, Seq.empty[Long], Seq.empty[Long]),
      (1004, Seq(5L, 5L, 5L), Seq(5L)), // dup-collapse to ONE match
      (1005, Seq(1L, 2L), Seq(3L, 4L)), // disjoint
      (1006, Seq(Long.MinValue, 0L, Long.MaxValue),
        Seq(Long.MinValue, 0L, Long.MaxValue)))
    val df = rows.toDF("i", "a", "b").repartition(2)
    val cmp = df.select(col("i"),
        kernel(col("a"), col("b")).as("k"),
        size(array_intersect(col("a"), col("b"))).as("ref"))
      .where(col("k") =!= col("ref"))
    assert(cmp.count() == 0L)
  }

  test("null array input yields null, like size(array_intersect)") {
    val ss = spark
    import ss.implicits._
    val df = Seq((1, Seq(1L, 2L), Option(Seq(1L)), true),
      (2, Seq(1L, 2L), None: Option[Seq[Long]], false))
      .toDF("i", "a", "b", "expectDefined")
    val out = df.select(col("i"), kernel(col("a"), col("b")).as("k"))
      .collect().map(r => r.getInt(0) -> (!r.isNullAt(1))).toMap
    assert(out(1) && !out(2))
  }

  test("an array whose elements may be null fails analysis") {
    val ss = spark
    import ss.implicits._
    // Option elements type the array ARRAY<BIGINT> with containsNull
    val df = Seq((Seq(Option(1L), None), Seq(1L))).toDF("a", "b")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(kernel(col("a"), col("b")))
    }
    assert(e.getMessage.contains("non-null elements"))
  }
}
