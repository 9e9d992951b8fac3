package graft

import java.nio.file.Files

/** `BenchScale.generate` refuses inputs it cannot replicate faithfully
  * instead of failing obscurely or wrapping keys.
  */
class BenchScaleSpec extends SparkTestBase {

  private def srcDirWithDocs(ids: Seq[Int]): String = {
    val ss = spark
    import ss.implicits._
    val dir = Files.createTempDirectory("bench_scale_src_").toString
    ids.map(i => (i, s"doc $i")).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("an empty source table fails with a named error, not an NPE") {
    val e = intercept[IllegalArgumentException] {
      BenchScale.generate(spark, srcDirWithDocs(Nil), factor = 2)
    }
    assert(e.getMessage.contains("documents.doc_id has no values"))
  }

  test("a shifted key past the column's type range fails, not wraps") {
    // INT keys up to 5e8 shift by 1e9 per replica: the third replica's
    // largest key (2.5e9) does not fit an INT
    val e = intercept[IllegalArgumentException] {
      BenchScale.generate(spark, srcDirWithDocs(Seq(1, 500000000)), 3)
    }
    assert(e.getMessage.contains("documents.doc_id overflows at 3x"))
  }
}
