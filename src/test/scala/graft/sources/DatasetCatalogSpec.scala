package graft.sources

import java.nio.file.{Files, Path}

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkTestBase

class DatasetCatalogSpec extends SparkTestBase {

  private def catalog = new DatasetCatalog(spark)

  private def tmpWith(names: String*): Path = {
    val dir = Files.createTempDirectory("graft_cat_")
    names.foreach(n => Files.writeString(dir.resolve(n), s"content of $n"))
    dir
  }

  test("list streams every entry (paginated iterator, no page-2 loss)") {
    // The reference loses page 2+ (download_file.py:210); we must not.
    val names = (1 to 250).map(i => f"obj_$i%03d.dat")
    val dir = tmpWith(names: _*)
    val listed = catalog.list(dir.toString).map(_.name).toSeq
    assert(listed.sorted == names)
  }

  test("exact match selects exactly one dataset") {
    val dir = tmpWith("a.csv", "ab.csv", "b.csv")
    val sel = catalog.select(dir.toString, "a.csv", MatchMode.Exact)
    assert(sel.map(_.name) == Seq("a.csv"))
  }

  test("regex match uses find-anywhere semantics like re.search") {
    val dir = tmpWith("data_1.csv", "data_2.csv", "other.csv", "data.json")
    val sel = catalog.select(dir.toString, "data_\\d", MatchMode.Regex)
    assert(sel.map(_.name) == Seq("data_1.csv", "data_2.csv"))
    // unanchored: matches substring anywhere
    val sub = catalog.select(dir.toString, "ther", MatchMode.Regex)
    assert(sub.map(_.name) == Seq("other.csv"))
  }

  test("no match raises typed not-found (exit 201)") {
    val dir = tmpWith("a.csv")
    val e = intercept[DatasetNotFoundException] {
      catalog.select(dir.toString, "zzz", MatchMode.Exact)
    }
    assert(e.exitCode == 201)
    val e2 = intercept[DatasetNotFoundException] {
      catalog.list("/definitely/not/a/dir").toSeq
    }
    assert(e2.exitCode == 201)
  }

  test("invalid regex raises typed pattern error (exit 203)") {
    val dir = tmpWith("a.csv")
    val e = intercept[InvalidPatternException] {
      catalog.select(dir.toString, "[unclosed", MatchMode.Regex)
    }
    assert(e.exitCode == 203)
  }

  test("recursive glob selects across the tree (upload parity)") {
    val dir = Files.createTempDirectory("graft_cat_r_")
    Files.createDirectories(dir.resolve("sub/inner"))
    Files.writeString(dir.resolve("root.csv"), "r")
    Files.writeString(dir.resolve("sub").resolve("a.csv"), "a")
    Files.writeString(dir.resolve("sub/inner").resolve("b.csv"), "b")
    Files.writeString(dir.resolve("sub/inner").resolve("c.json"), "c")
    // `**/` also matches zero directories, like the reference's
    // recursive upload walk
    val sel = catalog.selectRecursive(dir.toString, "**/*.csv", MatchMode.Glob)
    assert(sel.map(_.name) == Seq("root.csv", "sub/a.csv", "sub/inner/b.csv"))
    // single-star globs stay within one path segment
    val one = catalog.selectRecursive(dir.toString, "sub/*.csv", MatchMode.Glob)
    assert(one.map(_.name) == Seq("sub/a.csv"))
    // regex selection over relative paths works recursively too
    val re = catalog.selectRecursive(dir.toString, "inner/", MatchMode.Regex)
    assert(re.map(_.name) == Seq("sub/inner/b.csv", "sub/inner/c.json"))
  }

  test("glob mode selects in flat listings too") {
    val dir = tmpWith("a.csv", "b.csv", "c.json")
    val sel = catalog.select(dir.toString, "*.csv", MatchMode.Glob)
    assert(sel.map(_.name) == Seq("a.csv", "b.csv"))
  }

  test("filesystem auth failures raise typed invalid-credentials (exit 202)") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.deny.impl", classOf[DenyFileSystem].getName)
    val e = intercept[InvalidCredentialsException] {
      catalog.list("deny://bucket/data").toSeq
    }
    assert(e.exitCode == 202)
    // the same failure surfaces through selection (and thus IO ops)
    val e2 = intercept[InvalidCredentialsException] {
      catalog.selectRecursive("deny://bucket/data", "**", MatchMode.Glob)
    }
    assert(e2.exitCode == 202)
  }

  test("sizes are reported") {
    val dir = tmpWith("x.bin")
    val ref = catalog.select(dir.toString, "x.bin", MatchMode.Exact).head
    assert(ref.sizeBytes == "content of x.bin".length)
    assert(!ref.isDirectory)
  }

  // ---- the one walk vs Hadoop's own listings, on generated trees ----

  private sealed trait Node { def name: String }
  private final case class FileNode(name: String, bytes: Int) extends Node
  private final case class DirNode(name: String, children: List[Node])
      extends Node

  /** Plain, `_`- and `.`-prefixed and `k=v` names, with spaces and `%`. */
  private val nameGen: Gen[String] = for {
    head <- Gen.alphaNumChar
    tail <- Gen.choose(0, 5).flatMap(Gen.listOfN(_, Gen.frequency(
      6 -> Gen.alphaNumChar, 1 -> Gen.const(' '), 1 -> Gen.const('%'))))
    kind <- Gen.frequency(4 -> "", 1 -> "_", 1 -> ".", 1 -> "k=")
  } yield kind + head + tail.mkString

  private def treeGen(depth: Int): Gen[List[Node]] =
    Gen.choose(0, 4).flatMap(Gen.listOfN(_, nodeGen(depth)))
      .map(_.distinctBy(_.name))

  private def nodeGen(depth: Int): Gen[Node] = {
    val file = for (n <- nameGen; b <- Gen.choose(0, 40)) yield FileNode(n, b)
    if (depth == 0) file
    else Gen.frequency(2 -> file, 1 -> Gen.lzy(
      for (n <- nameGen; c <- treeGen(depth - 1)) yield DirNode(n, c)))
  }

  private val trees: Seq[List[Node]] =
    (0 until 25).flatMap(i => treeGen(3)(Gen.Parameters.default, Seed(i)))

  /** Write through Hadoop's `file:` FS, so every file gets a `.crc`. */
  private def plant(dir: String, nodes: List[Node]): Unit = {
    val local = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    def rec(d: HPath, ns: List[Node]): Unit = {
      local.mkdirs(d)
      ns.foreach {
        case FileNode(n, b) =>
          val out = local.create(new HPath(d, n))
          out.write(Array.fill(b)('x'.toByte)); out.close()
        case DirNode(n, c) => rec(new HPath(d, n), c)
      }
    }
    rec(new HPath(dir), nodes)
  }

  /** `listRecursive` equals `fs.listFiles(root, true)` by (relative
    * name, size); `list` equals `fs.listStatus(root)`.
    */
  private def assertListingsAgree(root: String): Unit = {
    val p = new HPath(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootUri = fs.makeQualified(p).toUri
    val it = fs.listFiles(p, true)
    val deep = Iterator.continually(()).takeWhile(_ => it.hasNext)
      .map(_ => it.next())
      .map(st => (rootUri.relativize(st.getPath.toUri).getPath, st.getLen))
      .toSeq.sorted
    assert(catalog.listRecursive(root).map(r => (r.name, r.sizeBytes))
      .toSeq.sorted == deep, root)
    val flat = fs.listStatus(p).toSeq
      .map(st => (st.getPath.getName, st.getLen, st.isDirectory)).sorted
    assert(catalog.list(root).map(r => (r.name, r.sizeBytes, r.isDirectory))
      .toSeq.sorted == flat, root)
  }

  test("property: on file: the walk lists what listFiles/listStatus do") {
    val base = Files.createTempDirectory("graft_walk_")
    trees.zipWithIndex.foreach { case (t, i) =>
      plant(s"$base/t$i", t)
      assertListingsAgree(s"file:$base/t$i")
    }
    // the sidecars really exist on disk, and the walk hides them
    assert(Files.walk(base).anyMatch(_.getFileName.toString.endsWith(".crc")))
  }

  test("property: on mock s3a:// the walk lists what listFiles/listStatus do") {
    MockS3aFileSystem.withBucket(spark) { bucket =>
      val store = spark.sparkContext.hadoopConfiguration.get("fs.s3a.mock.dir")
      trees.zipWithIndex.foreach { case (t, i) =>
        plant(s"$store/bkt/t$i", t)
        assertListingsAgree(s"$bucket/t$i")
      }
    }
  }
}
