package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class DatasetIOSpec extends SparkTestBase {

  private def io = new DatasetIO(spark)

  private def nation = spark.read.parquet(s"$sf001/nation.parquet")

  test("parquet/csv/json write-read roundtrips preserve data") {
    val tmp = Files.createTempDirectory("graft_io_").toString
    val src = nation
    for (fmt <- Seq("parquet", "orc", "csv", "json")) {
      val path = s"file:$tmp/nation_rt.$fmt"
      io.write(src, path)
      val back = io.read(path, schema =
        if (fmt == "parquet" || fmt == "orc") None else Some(src.schema))
      assert(back.count() == src.count(), s"format $fmt")
      assert(
        back.agg(sum("n_nationkey")).head.getLong(0) ==
          src.agg(sum("n_nationkey")).head.getLong(0), s"format $fmt")
    }
  }

  test("partitioned write lays out one directory per value") {
    val tmp = Files.createTempDirectory("graft_io_").toString
    io.write(nation, s"file:$tmp/nation_part",
      partitionBy = Seq("n_regionkey"))
    val dirs = new java.io.File(s"$tmp/nation_part").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.forall(_.startsWith("n_regionkey=")))
    assert(dirs.length == nation.select("n_regionkey").distinct().count())
    // roundtrip intact (partition col restored from the path)
    val back = io.read(s"file:$tmp/nation_part")
    assert(back.count() == nation.count())
  }

  test("compact merges small files and preserves data") {
    val tmp = Files.createTempDirectory("graft_io_").toString
    val path = s"file:$tmp/frag.parquet"
    // fragment: 25 rows over ~12 files
    io.write(nation.repartition(12), path)
    val (before, after) = io.compact(path, targetBytesPerFile = 64L * 1024 * 1024)
    assert(before >= 10, s"expected fragmented input, got $before files")
    assert(after == 1, s"expected 1 compacted file, got $after")
    assert(io.read(path).count() == nation.count())
  }

  test("compact refuses object-store schemes whose rename is not atomic") {
    // scheme gate fires before any FS client is created — no S3
    // connector on the classpath, and none needed
    val e = intercept[IllegalArgumentException] {
      io.compact("s3a://bucket/dataset")
    }
    assert(e.getMessage.contains("not atomic"))
    assert(e.getMessage.contains("allowNonAtomicSwap"))
    // with the override the gate passes; failure then comes from the
    // (absent) s3a connector itself, not the gate
    val e2 = intercept[RuntimeException] {
      io.compact("s3a://bucket/dataset", allowNonAtomicSwap = true)
    }
    assert(!e2.isInstanceOf[IllegalArgumentException])
  }

  test("compact preserves a partitioned layout and stays prunable") {
    val tmp = Files.createTempDirectory("graft_io_").toString
    val path = s"file:$tmp/nation_part"
    // fragment each partition: 5 region dirs × several files
    io.write(nation.repartition(6), path, partitionBy = Seq("n_regionkey"))
    val (before, after) = io.compact(path, targetBytesPerFile = 64L * 1024 * 1024)
    assert(after < before, s"no compaction: $before -> $after")
    // layout still hive-partitioned: col=value dirs survive the rewrite
    val dirs = new java.io.File(s"$tmp/nation_part").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.length == 5 && dirs.forall(_.startsWith("n_regionkey=")),
      s"partition dirs lost: ${dirs.mkString(",")}")
    // no hidden tmp/old leftovers
    assert(new java.io.File(tmp).listFiles().map(_.getName).toSet
      == Set("nation_part"))
    // data intact and the scan still prunes partitions
    val back = io.read(path).where(col("n_regionkey") === 2)
    assert(back.count() == nation.where(col("n_regionkey") === 2).count())
    val scanLine = back.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("n_regionkey"), s"pruning lost: $scanLine")
  }

  test("compactCommitted: crash at every failpoint leaves readers whole") {
    val d = io
    val tmp = Files.createTempDirectory("graft_io_").toString
    val path = s"file:$tmp/mfrag.parquet"
    d.write(nation.repartition(12), path)
    val truth = nation.agg(sum("n_nationkey")).head.getLong(0)
    def committedView(): (Long, Long) = {
      val df = d.readCommitted(path)
      (df.count(), df.agg(sum("n_nationkey")).head.getLong(0))
    }
    assert(committedView() == (25L, truth)) // unmanaged root readable
    // failpoint 1: new generation written, NO manifest -> readers
    // must still resolve the original, and the data must be whole
    d.compactFailpoint = 1
    intercept[java.io.IOException] { d.compactCommitted(path) }
    assert(committedView() == (25L, truth), "failpoint 1 leaked")
    // failpoint 2: TORN manifest on disk -> parse fails -> ignored
    d.compactFailpoint = 2
    intercept[java.io.IOException] { d.compactCommitted(path) }
    assert(committedView() == (25L, truth), "torn manifest was honored")
    // the torn file must exist (the crash really happened mid-write)
    val torn = new java.io.File(s"$tmp/mfrag.parquet/_manifests")
      .listFiles().filter(_.getName.endsWith(".json"))
    assert(torn.nonEmpty && torn.exists(_.length() > 0))
    // failpoint 3: the retry SELF-HEALS the torn gen-1 manifest — the
    // create-exclusive collision parses the garbage, deletes it, and
    // recommits (NO manual torn-file deletion) — then crashes before
    // cleanup -> readers resolve the NEW generation; olds are orphans
    d.compactFailpoint = 3
    intercept[java.io.IOException] { d.compactCommitted(path) }
    d.compactFailpoint = 0
    assert(committedView() == (25L, truth), "committed gen not resolved")
    // a second compaction over the managed layout works end-to-end and
    // sweeps the settled staging orphans the crashed attempts left
    val (_, a2) = d.compactCommitted(path)
    assert(a2 == 1, s"expected 1 file, got $a2")
    assert(committedView() == (25L, truth))
    val liveDirs = d.listGenerations(path).map(_._2).toSet
    val stray = new java.io.File(s"$tmp/mfrag.parquet").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("_gen-"))
      .map(_.getName).filterNot(liveDirs)
    assert(stray.isEmpty, s"staging orphans not swept: ${stray.mkString(",")}")
    // planted GARBAGE at the next generation's manifest path (a torn
    // file from some crashed committer) self-heals: the commit deletes
    // it and succeeds
    val mdir = new java.io.File(s"$tmp/mfrag.parquet/_manifests")
    val rootP = new org.apache.hadoop.fs.Path(s"file:$tmp/mfrag.parquet")
    val gen2 = d.currentManifest(rootP).get._1
    java.nio.file.Files.write(
      new java.io.File(mdir, s"manifest-${gen2 + 1}.json").toPath,
      "{}".getBytes)
    d.compactCommitted(path)
    assert(d.currentManifest(rootP).get._1 == gen2 + 1, "self-heal failed")
    assert(committedView() == (25L, truth))
    // concurrent-committer race, interleaved deterministically: a
    // faster committer wins the generation while the loser is between
    // staging and commit. The loser must fail loudly, and must NOT
    // have touched the winner's committed data dir (unique staging).
    val genW = d.currentManifest(rootP).get._1 + 1
    d.beforeCommitHook = () => {
      // the "winner": plant a committed manifest aliasing the CURRENT
      // live data (stands in for its own staged copy)
      val live = d.currentManifest(rootP).get._2
      java.nio.file.Files.write(
        new java.io.File(mdir, s"manifest-$genW.json").toPath,
        s"""{"gen":$genW,"dataDir":"$live","committed":true}""".getBytes)
    }
    try intercept[Exception] { d.compactCommitted(path) }
    finally d.beforeCommitHook = () => ()
    assert(d.currentManifest(rootP).get._1 == genW, "winner overthrown")
    assert(committedView() == (25L, truth), "loser clobbered winner data")
  }

  test("compactCommitted preserves a partitioned layout") {
    val d = io
    val tmp = Files.createTempDirectory("graft_io_").toString
    val path = s"file:$tmp/mpart"
    d.write(nation.repartition(8), path, partitionBy = Seq("n_regionkey"))
    val (_, after) = d.compactCommitted(path)
    val df = d.readCommitted(path)
    assert(df.count() == nation.count())
    // partition dirs live under the committed generation
    val root = new org.apache.hadoop.fs.Path(s"file:$tmp/mpart")
    val (_, dataDir) = d.currentManifest(root).get
    val dirs = new java.io.File(s"$tmp/mpart/$dataDir").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.forall(_.startsWith("n_regionkey=")), dirs.mkString(","))
    assert(after <= dirs.length * 2)
    // pruning still works through the committed reader
    val pruned = df.where(col("n_regionkey") === 0)
    assert(pruned.count() == nation.where(col("n_regionkey") === 0).count())
  }

  test("compactCommitted time travel: retained generations stay readable") {
    val d = io
    val tmp = Files.createTempDirectory("graft_io_").toString
    val path = s"file:$tmp/ttravel.parquet"
    d.write(nation.repartition(6), path)
    d.compactCommitted(path, retainPrevious = true) // gen 1
    d.compactCommitted(path, retainPrevious = true) // gen 2
    val gens = d.listGenerations(path)
    assert(gens.map(g => (g._1, g._3)) == Seq((1L, true), (2L, true)), gens)
    assert(d.readCommittedAt(path, 1).count() == 25L)
    assert(d.readCommittedAt(path, 2).count() == 25L)
    assert(d.readCommitted(path).count() == 25L)
    // a never-committed generation errors loudly, naming the log
    val e = intercept[IllegalArgumentException] {
      d.readCommittedAt(path, 9)
    }
    assert(e.getMessage.contains("never committed"), e.getMessage)
    // default cleanup marks the old generation unreadable but keeps
    // the commit log row
    d.compactCommitted(path) // gen 3, cleans gen 2
    val after = d.listGenerations(path)
    assert(after.map(g => (g._1, g._3)) ==
      Seq((1L, true), (2L, false), (3L, true)), after)
    val e2 = intercept[IllegalArgumentException] {
      d.readCommittedAt(path, 2)
    }
    assert(e2.getMessage.contains("cleaned"), e2.getMessage)
    assert(d.readCommittedAt(path, 3).count() == 25L)
  }

  test("compaction listings skip `.`- and `_`-prefixed files, like " +
    "Spark's reader, and the migrate step leaves them in place") {
    val tmp = Files.createTempDirectory("graft_io_").toString
    // an unmanaged root: 4 part files plus one hidden file of each kind
    def seeded(name: String): (String, Int) = {
      io.write(nation.repartition(4), s"file:$tmp/$name")
      Files.writeString(Paths.get(tmp, name, ".notes"), "not data")
      Files.writeString(Paths.get(tmp, name, "_audit"), "not data")
      val parts = new java.io.File(s"$tmp/$name").listFiles()
        .count(_.getName.startsWith("part-"))
      (s"file:$tmp/$name", parts)
    }
    val target = 64L * 1024 * 1024
    val (plain, nPlain) = seeded("plain")
    assert(io.compact(plain, target) == ((nPlain, 1)))
    val (managed, nManaged) = seeded("managed")
    assert(io.compactCommitted(managed, target) == ((nManaged, 1)))
    // migrate-from-unmanaged deleted the loose data files and only them
    val left = new java.io.File(s"$tmp/managed").listFiles().map(_.getName)
    assert(left.contains(".notes") && left.contains("_audit"), left.toSeq)
    assert(!left.exists(_.startsWith("part-")), left.toSeq)
    assert(io.readCommitted(managed).count() == nation.count())
  }

  test("readMatched recursive glob selects across a partitioned tree") {
    val tmp = Files.createTempDirectory("graft_io_").toString
    io.write(nation, s"file:$tmp/tree", partitionBy = Seq("n_regionkey"))
    val sel = io.readMatched(s"file:$tmp/tree", "n_regionkey=2/*.parquet",
      MatchMode.Glob, recursive = true)
    assert(sel.count() == nation.where(col("n_regionkey") === 2).count())
  }

  test("readMatched unions all regex matches in one scan") {
    val tmp = Files.createTempDirectory("graft_io_").toString
    io.write(nation.where(col("n_nationkey") < 10), s"file:$tmp/part_a.parquet")
    io.write(nation.where(col("n_nationkey") >= 10), s"file:$tmp/part_b.parquet")
    io.write(nation.limit(1), s"file:$tmp/other.parquet")
    val all = io.readMatched(s"file:$tmp", "^part_", MatchMode.Regex)
    assert(all.count() == nation.count())
  }

  test("move renames on same fs and enumerates multi-match destinations") {
    val tmp = Files.createTempDirectory("graft_io_").toString
    val dst = Files.createTempDirectory("graft_io_dst_").toString
    io.write(nation, s"file:$tmp/mv_1.parquet")
    io.write(nation, s"file:$tmp/mv_2.parquet")
    val moved = io.move(s"file:$tmp", "^mv_", MatchMode.Regex,
      s"file:$dst", destName = Some("moved.parquet"))
    assert(moved.map(p => PathUtil.baseName(p._2)) ==
      Seq("moved_1.parquet", "moved_2.parquet"))
    // sources gone, destinations readable
    intercept[DatasetNotFoundException] {
      io.catalog.select(s"file:$tmp", "^mv_", MatchMode.Regex)
    }
    assert(io.read(moved.head._2).count() == nation.count())
  }

  test("move without explicit destination keeps source names") {
    val tmp = Files.createTempDirectory("graft_io_").toString
    val dst = Files.createTempDirectory("graft_io_dst_").toString
    io.write(nation, s"file:$tmp/keepname.parquet")
    val moved = io.move(s"file:$tmp", "keepname.parquet", MatchMode.Exact,
      s"file:$dst")
    assert(PathUtil.baseName(moved.head._2) == "keepname.parquet")
  }

  test("remove deletes only matched datasets") {
    val tmp = Files.createTempDirectory("graft_io_").toString
    io.write(nation, s"file:$tmp/rm_me.parquet")
    io.write(nation, s"file:$tmp/keep_me.parquet")
    val removed = io.remove(s"file:$tmp", "^rm_", MatchMode.Regex)
    assert(removed.size == 1)
    val left = io.catalog.select(s"file:$tmp", ".*", MatchMode.Regex)
    assert(left.map(_.name) == Seq("keep_me.parquet"))
  }

  test("format inferred from extension") {
    val tmp = Files.createTempDirectory("graft_io_").toString
    io.write(nation, s"file:$tmp/n.csv")
    // header=true default for csv: reading with schema gives same rows
    val back = io.read(s"file:$tmp/n.csv", schema = Some(nation.schema))
    assert(back.count() == nation.count())
  }

  private def partDigests(dir: String): Map[String, String] =
    new java.io.File(dir).listFiles().filter(_.isDirectory).map { d =>
      val md = java.security.MessageDigest.getInstance("MD5")
      d.listFiles().filter(f => f.isFile && !f.getName.startsWith("."))
        .sortBy(_.getName).foreach { f =>
          md.update(f.getName.getBytes("UTF-8"))
          md.update(Files.readAllBytes(f.toPath))
        }
      d.getName -> md.digest().map("%02x".format(_)).mkString
    }.toMap

  test("overwritePartitions touches only incoming partitions; rerun idempotent") {
    val tmp = Files.createTempDirectory("graft_io_").toString
    val table = s"file:$tmp/nation_dyn"
    io.write(nation, table, partitionBy = Seq("n_regionkey"))
    val before = partDigests(s"$tmp/nation_dyn")
    // conf-restore contract: caller's static mode must survive the call
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    val slice = nation.where(col("n_regionkey") === 2)
      .withColumn("n_name", lit("RELANDED"))
    io.overwritePartitions(slice, table, partitionBy = Seq("n_regionkey"))
    assert(spark.conf.get("spark.sql.sources.partitionOverwriteMode")
      == "static")
    val after = partDigests(s"$tmp/nation_dyn")
    // untouched partitions are BYTE-stable; the incoming one changed
    assert(before.keySet == after.keySet)
    before.foreach { case (part, dg) =>
      if (part == "n_regionkey=2") assert(after(part) != dg)
      else assert(after(part) == dg, s"$part must be byte-stable")
    }
    val run1 = io.read(table).orderBy("n_nationkey").collect().toSeq
    assert(io.read(table).where(col("n_regionkey") === 2)
      .select("n_name").collect().forall(_.getString(0) == "RELANDED"))
    // rerun with the SAME slice: content converges (idempotent), and
    // other partitions stay byte-stable again
    io.overwritePartitions(slice, table, partitionBy = Seq("n_regionkey"))
    val run2 = io.read(table).orderBy("n_nationkey").collect().toSeq
    assert(run1 == run2)
    val after2 = partDigests(s"$tmp/nation_dyn")
    after.foreach { case (part, dg) =>
      if (part != "n_regionkey=2")
        assert(after2(part) == dg, s"$part must stay byte-stable on rerun")
    }
  }

  test("overwritePartitions refuses an unpartitioned call") {
    intercept[IllegalArgumentException] {
      io.overwritePartitions(nation, "file:/tmp/x", partitionBy = Nil)
    }
  }
}
