package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.sources.MockS3aFileSystem

/** Cluster-portability proof for scratch materializations (VERDICT r11
  * item 1): with `spark.graft.scratch.dir` pointed at an OBJECT-STORE
  * URI (the mock s3a FileSystem), the digest-collapse write in
  * `Dedup.dupClusters` and the round files of the CC loop run through
  * the Hadoop FS API end-to-end and produce results identical to the
  * local-scratch run — the same configuration a real multi-node
  * deployment would use against S3/HDFS.
  */
class ScratchSpaceSpec extends SparkTestBase {

  private def withS3aScratch[T](f: String => T): T = {
    val root = Files.createTempDirectory("mock_s3a_scratch_").toString
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.s3a.impl", classOf[MockS3aFileSystem].getName)
    hc.set("fs.s3a.mock.dir", root)
    org.apache.hadoop.fs.FileSystem.closeAll()
    new java.io.File(s"$root/bkt").mkdirs()
    spark.conf.set(ScratchSpace.ConfKey, "s3a://bkt/scratch")
    try f(root)
    finally {
      spark.conf.unset(ScratchSpace.ConfKey)
      org.apache.hadoop.fs.FileSystem.closeAll()
    }
  }

  private def corpus = spark.createDataFrame(Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bend"),
    (3L, "completely different words about spark shuffles and partitions here"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (5L, "another unrelated document mentioning joins aggregates and windows today"),
    (6L, "the quick brown fox jumps over the lazy dog near the river bank")))
    .toDF("doc_id", "text")

  private def clustersOf(df: org.apache.spark.sql.DataFrame) =
    Dedup.dupClusters(df, "doc_id", "text",
        shingleWidth = 3, bands = 8, rowsPerBand = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("conf key overrides the default scratch root") {
    val default = ScratchSpace.root(spark)
    assert(!default.startsWith("s3a:"))
    withS3aScratch { _ =>
      assert(ScratchSpace.root(spark) == "s3a://bkt/scratch")
      val d = ScratchSpace.dir(spark, "probe_")
      assert(d.startsWith("s3a://bkt/scratch/probe_"))
    }
    assert(ScratchSpace.root(spark) == default)
  }

  test("writeOneFile leaves exactly one file; a stage without a part file fails loudly") {
    val d = ScratchSpace.dir(spark, "one_file_spec_")
    val len = ScratchSpace.writeOneFile(
      spark.range(10).repartition(3).toDF("id"), d, "one.parquet")
    val p = new org.apache.hadoop.fs.Path(d)
    val files = p.getFileSystem(spark.sessionState.newHadoopConf())
      .listStatus(p).filterNot(_.getPath.getName.startsWith("."))
    assert(files.map(_.getPath.getName).toSeq == Seq("one.parquet"))
    assert(files.head.getLen == len)
    assert(spark.read.parquet(s"$d/one.parquet").count() == 10)
    val empty = ScratchSpace.dir(spark, "empty_stage_")
    val e = intercept[IllegalStateException](
      ScratchSpace.onePartFile(spark, empty))
    assert(e.getMessage.contains("found 0"))
  }

  test("writeBytes/readBytes/delete roundtrip through the s3a scheme") {
    withS3aScratch { mockRoot =>
      val d = ScratchSpace.dir(spark, "rw_")
      ScratchSpace.writeBytes(spark, d, "sub/payload.bin",
        Array[Byte](1, 2, 3, 4))
      // the bytes physically landed under the mock store's backing dir
      assert(new java.io.File(s"$mockRoot/bkt").exists())
      assert(ScratchSpace.readBytes(spark, s"$d/sub/payload.bin")
        .toSeq == Seq[Byte](1, 2, 3, 4))
      ScratchSpace.delete(spark, d)
      intercept[java.io.FileNotFoundException] {
        ScratchSpace.readBytes(spark, s"$d/sub/payload.bin")
      }
    }
  }

  test("dupClusters on s3a scratch equals the local-scratch result") {
    val local = clustersOf(corpus)
    // sanity on the fixture: 1/2/4/6 cluster together, 3 and 5 alone
    assert(local == Set((1L, 1L), (2L, 1L), (4L, 1L), (6L, 1L),
      (3L, 3L), (5L, 5L)))
    val remote = withS3aScratch { mockRoot =>
      val out = clustersOf(corpus)
      // the collapsed corpus was materialized THROUGH the object store
      val scratchDirs = new java.io.File(s"$mockRoot/bkt/scratch").list()
      assert(scratchDirs != null && scratchDirs.exists(_.startsWith("dupc_")),
        s"expected a dupc_* dir under the s3a scratch root, got " +
          s"${Option(scratchDirs).map(_.toSeq)}")
      out
    }
    assert(remote == local)
  }

  test("clustersFromPairs round files work on s3a scratch") {
    val ids = spark.createDataFrame((1L to 6L).map(Tuple1(_)))
      .toDF("doc_id")
    val pairs = spark.createDataFrame(Seq((1L, 2L), (2L, 3L), (5L, 6L)))
      .toDF("id_a", "id_b")
    def run() = Dedup.clustersFromPairs(ids, "doc_id", pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected =
      Set((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 5L), (6L, 5L))
    assert(run() == expected)
    val remote = withS3aScratch { mockRoot =>
      val out = run()
      val scratchDirs = new java.io.File(s"$mockRoot/bkt/scratch").list()
      assert(scratchDirs != null && scratchDirs.exists(_.startsWith("cc_")),
        "expected the CC loop's round files under the s3a scratch root")
      out
    }
    assert(remote == expected)
  }
}
