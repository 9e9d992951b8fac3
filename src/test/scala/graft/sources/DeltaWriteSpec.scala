package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase

class DeltaWriteSpec extends SparkTestBase {

  private def fresh(): String =
    graft.ScratchSpace.dir(spark, "deltawspec_")

  private def kv(lo: Int, hi: Int, src: String = null): DataFrame = {
    val ss = spark
    import ss.implicits._
    val base = (lo until hi).map(i => (i.toLong, s"row$i"))
    if (src == null) base.toDF("k", "name")
    else base.map { case (k, n) => (k, n, src) }.toDF("k", "name", "src")
  }

  test("create + append + read roundtrip; metadata count from " +
    "written stats") {
    val t = fresh()
    assert(DeltaWrite.append(kv(0, 5), t) == 0L)
    assert(DeltaWrite.append(kv(5, 9), t) == 1L)
    val got = DeltaRead.read(spark, t).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == (0 until 9).map(i => (i.toLong, s"row$i")))
    // the writer's stats make the metadata-only count path work
    assert(DeltaRead.countRows(spark, t) == 9L)
    assert(DeltaRead.countRows(spark, t, asOf = Some(0L)) == 5L)
  }

  test("partitioned write: Delta physical layout, partitionValues " +
    "from the log, pruned scan") {
    val t = fresh()
    val df = kv(0, 6).withColumn("src",
      when(col("k") < 3, "a").otherwise("b"))
    assert(DeltaWrite.append(df, t, partitionBy = Seq("src")) == 0L)
    // physical layout: src=a / src=b dirs, no partition col in data
    val fs = new Path(t).getFileSystem(
      spark.sessionState.newHadoopConf())
    val dirs = fs.listStatus(new Path(t)).map(_.getPath.getName).sorted
    assert(dirs.contains("src=a") && dirs.contains("src=b"))
    val back = DeltaRead.read(spark, t).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(back.toSeq == (0 until 6).map(i =>
      (i.toLong, s"row$i", if (i < 3) "a" else "b")))
    // pruning uses the written partitionValues AND the written stats
    val pruned = DeltaRead.readPruned(spark, t,
      partitionEquals = Map("src" -> "a"),
      range = Some(("k", 1L, 2L)))
    assert(pruned.orderBy("k").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 2L))
  }

  test("overwrite replaces live content; history stays readable") {
    val t = fresh()
    DeltaWrite.append(kv(0, 4), t): Unit
    assert(DeltaWrite.overwrite(kv(100, 102), t) == 1L)
    assert(DeltaRead.read(spark, t).orderBy("k")
      .collect().map(_.getLong(0)).toSeq == Seq(100L, 101L))
    assert(DeltaRead.read(spark, t, asOf = Some(0L)).count() == 4L)
    assert(DeltaRead.countRows(spark, t) == 2L)
  }

  test("schema / partitioning mismatches refuse loudly") {
    val t = fresh()
    DeltaWrite.append(kv(0, 3), t): Unit
    val e1 = intercept[IllegalArgumentException] {
      DeltaWrite.append(kv(0, 3).withColumn("extra", lit(1)), t)
    }
    assert(e1.getMessage.contains("schema mismatch"))
    val e2 = intercept[IllegalArgumentException] {
      DeltaWrite.append(
        kv(0, 3).withColumn("k", col("k").cast("int")), t)
    }
    assert(e2.getMessage.contains("schema mismatch"))
    val e3 = intercept[IllegalArgumentException] {
      DeltaWrite.append(kv(0, 3), t, partitionBy = Seq("name"))
    }
    assert(e3.getMessage.contains("partition"))
  }

  test("overwrite of a non-existent table refuses") {
    val e = intercept[IllegalArgumentException] {
      DeltaWrite.overwrite(kv(0, 3), fresh() + "/nope")
    }
    assert(e.getMessage.contains("non-existent"))
  }

  test("version race: loser retries at the tip and both commits land") {
    val t = fresh()
    DeltaWrite.append(kv(0, 3), t): Unit
    var raced = false
    val v = DeltaWrite.append(kv(10, 13), t, beforeCommit = { () =>
      if (!raced) {
        raced = true
        // a concurrent writer steals version 1
        DeltaWrite.append(kv(100, 101), t): Unit
      }
    })
    assert(v == 2L)
    assert(DeltaRead.read(spark, t).count() == 7L)
    assert(DeltaRead.versions(spark, t) == Seq(0L, 1L, 2L))
  }

  test("overwrite retry re-snapshots: the racer's files are removed " +
    "too") {
    val t = fresh()
    DeltaWrite.append(kv(0, 3), t): Unit
    var raced = false
    DeltaWrite.overwrite(kv(50, 52), t, beforeCommit = { () =>
      if (!raced) {
        raced = true
        DeltaWrite.append(kv(100, 105), t): Unit
      }
    }): Unit
    // final state: ONLY the overwrite's rows — the racer's append was
    // superseded by the re-snapshotted remove set
    assert(DeltaRead.read(spark, t).orderBy("k")
      .collect().map(_.getLong(0)).toSeq == Seq(50L, 51L))
  }

  test("delta.appendOnly: append allowed, overwrite refused") {
    val t = fresh()
    // author a v0 with appendOnly config (fixture — the writer itself
    // never sets it)
    val schema = kv(0, 1).schema
    val size = DeltaFixture.plantDataFile(spark, kv(0, 3), t, "a.parquet")
    val metaLine = DeltaFixture.metaDataLine("ao", schema)
      .replace("\"configuration\":{}",
        "\"configuration\":{\"delta.appendOnly\":\"true\"}")
    DeltaFixture.writeCommit(spark, t, 0, Seq(
      DeltaFixture.protocolLine(),
      metaLine,
      DeltaFixture.addLine("a.parquet", size)))
    assert(DeltaWrite.append(kv(10, 12), t) == 1L)
    val e = intercept[IllegalArgumentException] {
      DeltaWrite.overwrite(kv(0, 1), t)
    }
    assert(e.getMessage.contains("appendOnly"))
  }

  test("CDF merge: cdc files + actions written; readCdf replays the " +
    "per-row changes; overwrite-era gate unaffected") {
    val ss = spark
    import ss.implicits._
    val t = fresh()
    // CDF-enabled table: writer v4 + enableChangeDataFeed
    val schema = kv(0, 1).schema
    val size = DeltaFixture.plantDataFile(spark, kv(0, 5), t, "a.parquet")
    DeltaFixture.writeCommit(spark, t, 0, Seq(
      DeltaFixture.protocolLine(minWriter = 4),
      DeltaFixture.metaDataLine("cdf", schema,
        configuration = Map("delta.enableChangeDataFeed" -> "true")),
      DeltaFixture.addLine("a.parquet", size)))
    // merge: update k=1, delete k=3, insert k=50
    val updates = Seq(
      (1L, "row1-new", false), (3L, "x", true), (50L, "row50", false))
      .toDF("k", "name", "__del")
    assert(DeltaWrite.merge(updates, t, Seq("k"),
      deleteCol = Some("__del")) == 1L)
    // table state is the merge's result
    assert(DeltaRead.read(spark, t).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((0L, "row0"), (1L, "row1-new"), (2L, "row2"),
        (4L, "row4"), (50L, "row50")))
    // cdc sidecars exist under _change_data/
    val fs = new Path(t).getFileSystem(
      spark.sessionState.newHadoopConf())
    assert(fs.exists(new Path(t, "_change_data")),
      "merge must write cdc files when CDF is enabled")
    // and the feed replays the changes
    val feed = DeltaRead.readCdf(spark, t, 1)
      .orderBy("_change_type", "k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(feed.toSeq == Seq(
      (3L, "row3", "delete"),
      (50L, "row50", "insert"),
      (1L, "row1-new", "update_postimage"),
      (1L, "row1", "update_preimage")))
  }

  test("writer gate: v3/v4 pass when their obligations are absent; " +
    "CHECK constraints and generated columns refuse") {
    val ss = spark
    import ss.implicits._
    // clean v4 table: append works
    val t = fresh()
    val schema = kv(0, 1).schema
    val s0 = DeltaFixture.plantDataFile(spark, kv(0, 2), t, "a.parquet")
    DeltaFixture.writeCommit(spark, t, 0, Seq(
      DeltaFixture.protocolLine(minWriter = 4),
      DeltaFixture.metaDataLine("v4", schema),
      DeltaFixture.addLine("a.parquet", s0)))
    assert(DeltaWrite.append(kv(5, 7), t) == 1L)
    // v3 table WITH a declared constraint: ENFORCED, not refused —
    // passing rows commit, violating rows refuse with the name
    val t2 = fresh()
    val s2 = DeltaFixture.plantDataFile(spark, kv(0, 2), t2, "a.parquet")
    val constrained = DeltaFixture.metaDataLine("v3", schema)
      .replace("\"configuration\":{}",
        "\"configuration\":{\"delta.constraints.kpos\":\"k >= 0\"}")
    DeltaFixture.writeCommit(spark, t2, 0, Seq(
      DeltaFixture.protocolLine(minWriter = 3),
      constrained,
      DeltaFixture.addLine("a.parquet", s2)))
    assert(DeltaWrite.append(kv(5, 7), t2) == 1L)
    val e2 = intercept[IllegalArgumentException] {
      DeltaWrite.append(Seq((-3L, "bad"), (8L, "ok")).toDF("k", "name"),
        t2)
    }
    assert(e2.getMessage.contains("CHECK constraint 'kpos'") &&
      e2.getMessage.contains("1 incoming row"), e2.getMessage)
    // the violating commit never landed
    assert(DeltaRead.read(spark, t2).count() == 4L)
    // v4 table with a GENERATED column: COMPUTED when missing,
    // VALIDATED when provided (no longer a refusal)
    val t3 = fresh()
    val s3 = DeltaFixture.plantDataFile(spark, kv(0, 2), t3, "a.parquet")
    val genSchema = org.apache.spark.sql.types.StructType(
      schema.fields.map { f =>
      if (f.name == "name")
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .putString("delta.generationExpression", "CAST(k AS STRING)")
          .build())
      else f
    })
    DeltaFixture.writeCommit(spark, t3, 0, Seq(
      DeltaFixture.protocolLine(minWriter = 4),
      DeltaFixture.metaDataLine("v4g", genSchema),
      DeltaFixture.addLine("a.parquet", s3)))
    // append WITHOUT the generated column: computed
    assert(DeltaWrite.append(
      spark.range(5, 7).select(col("id").as("k")), t3) == 1L)
    assert(DeltaRead.read(spark, t3).where(col("k") === 5L)
      .head().getString(1) == "5")
    // append WITH a consistent value: validated, passes
    assert(DeltaWrite.append(
      Seq((7L, "7")).toDF("k", "name"), t3) == 2L)
    // append with an INCONSISTENT value: refuses with the column name
    val e3 = intercept[IllegalArgumentException] {
      DeltaWrite.append(Seq((8L, "wrong")).toDF("k", "name"), t3)
    }
    assert(e3.getMessage.contains("generated column 'name'"),
      e3.getMessage)
  }

  test("column INVARIANTS are enforced (not refused): violating " +
    "rows refuse with the column name; NULL passes; unparseable " +
    "invariants refuse loudly") {
    val ss = spark
    import ss.implicits._
    val t = fresh()
    val schema = kv(0, 1).schema
    val invSchema = org.apache.spark.sql.types.StructType(
      schema.fields.map { f =>
        if (f.name == "k")
          f.copy(metadata =
            new org.apache.spark.sql.types.MetadataBuilder()
              .putString("delta.invariants",
                """{"expression":{"expression":"k < 1000"}}""")
              .build())
        else f
      })
    val sa = DeltaFixture.plantDataFile(spark, kv(0, 2), t, "a.parquet")
    DeltaFixture.writeCommit(spark, t, 0, Seq(
      DeltaFixture.protocolLine(minWriter = 2),
      DeltaFixture.metaDataLine("inv", invSchema),
      DeltaFixture.addLine("a.parquet", sa)))
    assert(DeltaWrite.append(kv(5, 7), t) == 1L)
    val e = intercept[IllegalArgumentException] {
      DeltaWrite.append(Seq((2000L, "big")).toDF("k", "name"), t)
    }
    assert(e.getMessage.contains("invariant on column 'k'"),
      e.getMessage)
    // NULL invariant result passes (SQL CHECK semantics)
    assert(DeltaWrite.append(
      Seq((null.asInstanceOf[java.lang.Long], "n")).toDF("k", "name")
        .select(col("k").cast("long"), col("name")), t) == 2L)
    // an unparseable invariant refuses loudly
    val t2 = fresh()
    val badSchema = org.apache.spark.sql.types.StructType(
      schema.fields.map { f =>
        if (f.name == "k")
          f.copy(metadata =
            new org.apache.spark.sql.types.MetadataBuilder()
              .putString("delta.invariants", "not-json").build())
        else f
      })
    val sb = DeltaFixture.plantDataFile(spark, kv(0, 2), t2, "a.parquet")
    DeltaFixture.writeCommit(spark, t2, 0, Seq(
      DeltaFixture.protocolLine(minWriter = 2),
      DeltaFixture.metaDataLine("badinv", badSchema),
      DeltaFixture.addLine("a.parquet", sb)))
    val e2 = intercept[IllegalArgumentException] {
      DeltaWrite.append(kv(5, 6), t2)
    }
    assert(e2.getMessage.contains("cannot parse"), e2.getMessage)
  }

  test("generated columns recompute through updateWhere and " +
    "complete through merge; direct SET of a generated column " +
    "refuses") {
    val ss = spark
    import ss.implicits._
    val t = fresh()
    val base = Seq((1L, 10L)).toDF("k", "v")
    val genSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v2",
        org.apache.spark.sql.types.LongType, nullable = true,
        new org.apache.spark.sql.types.MetadataBuilder()
          .putString("delta.generationExpression", "v * 2").build())))
    val sa = DeltaFixture.plantDataFile(spark,
      base.withColumn("v2", col("v") * 2), t, "a.parquet")
    DeltaFixture.writeCommit(spark, t, 0, Seq(
      DeltaFixture.protocolFeaturesLine(3, 7,
        Seq("deletionVectors"),
        Seq("deletionVectors", "generatedColumns", "appendOnly",
          "invariants")),
      DeltaFixture.metaDataLine("genu", genSchema),
      DeltaFixture.addLine("a.parquet", sa,
        stats = Some(DeltaFixture.statsJson(1, Map("k" -> ((1L, 1L))))))))
    // merge COMPLETES the generated column on upserts
    DeltaWrite.merge(Seq((2L, 50L)).toDF("k", "v"), t, Seq("k")): Unit
    assert(DeltaRead.read(spark, t).where(col("k") === 2L)
      .head().getLong(2) == 100L)
    // updateWhere RECOMPUTES it when a source column changes
    val rep = DeltaWrite.updateWhere(spark, t, col("k") === 1L,
      Map("v" -> lit(30L)))
    assert(rep.updatedRows == 1L)
    assert(DeltaRead.read(spark, t).where(col("k") === 1L)
      .head().getLong(2) == 60L)
    // direct SET of the generated column refuses
    val e = intercept[IllegalArgumentException] {
      DeltaWrite.updateWhere(spark, t, col("k") === 1L,
        Map("v2" -> lit(999L)))
    }
    assert(e.getMessage.contains("GENERATED"), e.getMessage)
  }

  test("restore: table state reverts as a NEW commit; history stays " +
    "readable; schema/config revert too; vacuumed targets refuse") {
    val ss = spark
    import ss.implicits._
    val t = fresh()
    DeltaWrite.append(kv(0, 5), t): Unit // v0
    // v1: merge rewrites (update k=1, delete k=3)
    DeltaWrite.merge(
      Seq((1L, "row1-new", false), (3L, "x", true)).toDF("k", "name", "__del"),
      t, Seq("k"), deleteCol = Some("__del")): Unit
    assert(DeltaRead.read(spark, t).count() == 4L)
    // restore to v0
    assert(DeltaWrite.restore(spark, t, 0L) == 2L)
    val back = DeltaRead.read(spark, t).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(back.toSeq == (0 until 5).map(i => (i.toLong, s"row$i")))
    // the in-between state is STILL time-travelable
    assert(DeltaRead.read(spark, t, asOf = Some(1L)).count() == 4L)
    // schema evolution reverts: evolve, restore, schema is narrow again
    val t2 = fresh()
    DeltaWrite.append(kv(0, 2), t2): Unit
    DeltaWrite.appendEvolve(
      Seq((10L, "row10", "en")).toDF("k", "name", "lang"), t2): Unit
    assert(DeltaRead.snapshot(spark, t2).schema.size == 3)
    DeltaWrite.restore(spark, t2, 0L): Unit
    assert(DeltaRead.snapshot(spark, t2).schema.fieldNames.toSeq ==
      Seq("k", "name"))
    assert(DeltaRead.read(spark, t2).count() == 2L)
    // vacuum makes old versions unrestorable — loudly
    val t3 = fresh()
    DeltaWrite.append(kv(0, 3), t3): Unit
    DeltaWrite.overwrite(kv(10, 12), t3): Unit
    DeltaWrite.vacuum(spark, t3, retainMs = 0L): Unit
    val e = intercept[IllegalArgumentException] {
      DeltaWrite.restore(spark, t3, 0L)
    }
    assert(e.getMessage.contains("vacuumed"), e.getMessage)
  }

  test("optimize: small files bin-pack as dataChange=false; content " +
    "identical; incremental readers stay blind; partitioned layout " +
    "and pruning survive") {
    val t = fresh()
    val ss = spark
    import ss.implicits._
    DeltaWrite.append(kv(0, 40).repartition(8), t): Unit
    assert(DeltaRead.snapshot(spark, t).liveFiles.size == 8)
    val rep = DeltaWrite.optimize(spark, t)
    assert(rep.rewrittenFiles == 8L && rep.version.contains(1L))
    val snap = DeltaRead.snapshot(spark, t)
    assert(snap.liveFiles.size < 8,
      s"compaction must shrink the file count, got ${snap.liveFiles.size}")
    assert(DeltaRead.read(spark, t).orderBy("k").collect()
      .map(_.getLong(0)).toSeq == (0L until 40L))
    // stats re-collected: metadata count still works
    assert(DeltaRead.countRows(spark, t) == 40L)
    // the incremental reader sees NO changes from the optimize commit
    assert(DeltaRead.readChanges(spark, t, 1, Some(1L)).count() == 0L)
    assert(DeltaRead.readCdf(spark, t, 1, Some(1L)).count() == 0L)
    // idempotent-ish: nothing left to compact at the default target
    assert(DeltaWrite.optimize(spark, t).rewrittenFiles <= 1L)
    // partitioned: per-partition packing, pruning survives
    val t2 = fresh()
    val df = kv(0, 20).withColumn("src",
      when(col("k") < 10, "a").otherwise("b")).repartition(6)
    DeltaWrite.append(df, t2, partitionBy = Seq("src")): Unit
    val before = DeltaRead.snapshot(spark, t2).liveFiles.size
    val rep2 = DeltaWrite.optimize(spark, t2)
    assert(rep2.rewrittenFiles >= 2L)
    assert(DeltaRead.snapshot(spark, t2).liveFiles.size < before)
    assert(DeltaRead.readPruned(spark, t2,
      partitionEquals = Map("src" -> "a")).count() == 10L)
    assert(DeltaRead.read(spark, t2).count() == 20L)
  }

  test("deleteWhere: DV DML — no rewrite, per-file executor-authored " +
    "bitmaps, merged on repeat deletes, all-dead files plainly " +
    "removed; non-DV tables refuse") {
    val ss = spark
    import ss.implicits._
    val t = fresh()
    val schema = kv(0, 1).schema
    val sa = DeltaFixture.plantDataFile(spark, kv(0, 5), t, "a.parquet")
    val sb = DeltaFixture.plantDataFile(spark, kv(10, 13), t, "b.parquet")
    DeltaFixture.writeCommit(spark, t, 0, Seq(
      DeltaFixture.protocolFeaturesLine(3, 7,
        Seq("deletionVectors"), Seq("deletionVectors")),
      DeltaFixture.metaDataLine("dvdml", schema),
      DeltaFixture.addLine("a.parquet", sa,
        stats = Some(DeltaFixture.statsJson(5, Map("k" -> ((0L, 4L)))))),
      DeltaFixture.addLine("b.parquet", sb,
        stats = Some(DeltaFixture.statsJson(3, Map("k" -> ((10L, 12L))))))))
    // delete k in {1,3}: touches a only, DV attached, nothing rewritten
    val r1 = DeltaWrite.deleteWhere(spark, t, col("k").isin(1L, 3L))
    assert(r1 == DeltaWrite.DeleteReport(2L, 1L, 0L, Some(1L)), r1)
    assert(DeltaRead.read(spark, t).orderBy("k").collect()
      .map(_.getLong(0)).toSeq == Seq(0L, 2L, 4L, 10L, 11L, 12L))
    // metadata count subtracts the DV cardinality
    assert(DeltaRead.countRows(spark, t) == 6L)
    // repeat delete MERGES with the existing DV
    val r2 = DeltaWrite.deleteWhere(spark, t, col("k") === 2L)
    assert(r2.deletedRows == 1L && r2.version.contains(2L))
    assert(DeltaRead.read(spark, t).orderBy("k").collect()
      .map(_.getLong(0)).toSeq == Seq(0L, 4L, 10L, 11L, 12L))
    assert(DeltaRead.countRows(spark, t) == 5L)
    // deleting ALL of b's rows removes the file instead of an
    // all-dead DV
    val r3 = DeltaWrite.deleteWhere(spark, t, col("k") >= 10L)
    assert(r3 == DeltaWrite.DeleteReport(3L, 1L, 1L, Some(3L)), r3)
    val live = DeltaRead.snapshot(spark, t).liveFiles
    assert(live.map(_.path) == Seq("a.parquet"))
    assert(DeltaRead.read(spark, t).orderBy("k").collect()
      .map(_.getLong(0)).toSeq == Seq(0L, 4L))
    // no matches -> no commit
    assert(DeltaWrite.deleteWhere(spark, t, col("k") === 999L) ==
      DeltaWrite.DeleteReport(0L, 0L, 0L, None))
    // a table WITHOUT the DV feature refuses loudly
    val t2 = fresh()
    DeltaWrite.append(kv(0, 3), t2): Unit
    val e = intercept[IllegalArgumentException] {
      DeltaWrite.deleteWhere(spark, t2, col("k") === 1L)
    }
    assert(e.getMessage.contains("deletionVectors"), e.getMessage)
  }

  test("updateWhere: DV-masked originals + appended images in ONE " +
    "commit; CDF pre/post rows; partition SET refuses") {
    val ss = spark
    import ss.implicits._
    val t = fresh()
    val schema = kv(0, 1).schema
    val sa = DeltaFixture.plantDataFile(spark, kv(0, 5), t, "a.parquet")
    val metaLine = DeltaFixture.metaDataLine("dvu", schema)
      .replace("\"configuration\":{}",
        "\"configuration\":{\"delta.enableChangeDataFeed\":\"true\"}")
    DeltaFixture.writeCommit(spark, t, 0, Seq(
      DeltaFixture.protocolFeaturesLine(3, 7,
        Seq("deletionVectors"), Seq("deletionVectors")),
      metaLine,
      DeltaFixture.addLine("a.parquet", sa,
        stats = Some(DeltaFixture.statsJson(5, Map("k" -> ((0L, 4L))))))))
    val rep = DeltaWrite.updateWhere(spark, t,
      col("k").isin(1L, 3L),
      Map("name" -> concat(col("name"), lit("_u"))))
    assert(rep.updatedRows == 2L && rep.filesTouched == 1L &&
      rep.version.contains(1L), rep.toString)
    assert(DeltaRead.read(spark, t).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((0L, "row0"), (1L, "row1_u"), (2L, "row2"),
        (3L, "row3_u"), (4L, "row4")))
    // original file is STILL live (DV'd), plus the new image file
    val live = DeltaRead.snapshot(spark, t).liveFiles
    assert(live.exists(f => f.path == "a.parquet" && f.dv.nonEmpty))
    assert(live.size == 2)
    // the CDF feed carries pre+post images
    val feed = DeltaRead.readCdf(spark, t, 1)
      .orderBy("_change_type", "k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(feed.toSeq == Seq(
      (1L, "row1_u", "update_postimage"),
      (3L, "row3_u", "update_postimage"),
      (1L, "row1", "update_preimage"),
      (3L, "row3", "update_preimage")))
    // a second update over an already-updated row hits the NEW file
    val rep2 = DeltaWrite.updateWhere(spark, t,
      col("name") === "row1_u",
      Map("name" -> lit("row1_uu")))
    assert(rep2.updatedRows == 1L)
    assert(DeltaRead.read(spark, t).where(col("k") === 1L)
      .collect().head.getString(1) == "row1_uu")
    // SET on a partition column refuses
    val t2 = fresh()
    val df = kv(0, 4).withColumn("src",
      when(col("k") < 2, "a").otherwise("b"))
    DeltaWrite.append(df, t2, partitionBy = Seq("src")): Unit
    val e = intercept[IllegalArgumentException] {
      DeltaWrite.updateWhere(spark, t2, col("k") === 1L,
        Map("src" -> lit("c")))
    }
    assert(e.getMessage.contains("partition column"), e.getMessage)
  }

  test("writer version > 4 refuses") {
    val t = fresh()
    val size = DeltaFixture.plantDataFile(spark, kv(0, 3), t, "a.parquet")
    DeltaFixture.writeCommit(spark, t, 0, Seq(
      DeltaFixture.protocolLine(minWriter = 7),
      DeltaFixture.metaDataLine("wv", kv(0, 1).schema),
      DeltaFixture.addLine("a.parquet", size)))
    val e = intercept[IllegalArgumentException] {
      DeltaWrite.append(kv(10, 12), t)
    }
    assert(e.getMessage.contains("writer version"))
  }

  test("crash orphans (staged or unreferenced files) are invisible " +
    "to readers") {
    val t = fresh()
    DeltaWrite.append(kv(0, 3), t): Unit
    // simulate a crashed writer: stray staging dir + unreferenced file
    DeltaFixture.plantDataFile(spark,
      kv(900, 999), t, "_staging-dead/part-orphan.parquet"): Unit
    DeltaFixture.plantDataFile(spark,
      kv(900, 999), t, "part-orphan2.parquet"): Unit
    assert(DeltaRead.read(spark, t).count() == 3L)
    assert(DeltaRead.countRows(spark, t) == 3L)
  }

  test("escaped partition values roundtrip (value containing '=')") {
    val t = fresh()
    val df = kv(0, 2).withColumn("src", lit("x=y"))
    DeltaWrite.append(df, t, partitionBy = Seq("src")): Unit
    val back = DeltaRead.read(spark, t).orderBy("k").collect()
    assert(back.map(_.getString(2)).toSeq == Seq("x=y", "x=y"))
    // and the pruned path matches on the REAL value
    assert(DeltaRead.readPruned(spark, t,
      partitionEquals = Map("src" -> "x=y")).count() == 2L)
  }

  test("empty append commits cleanly and changes nothing") {
    val t = fresh()
    DeltaWrite.append(kv(0, 3), t): Unit
    val v = DeltaWrite.append(kv(0, 0), t)
    assert(v == 1L)
    assert(DeltaRead.read(spark, t).count() == 3L)
  }

  test("idempotentAppend: replayed txn versions no-op") {
    val t = fresh()
    assert(DeltaWrite.idempotentAppend(kv(0, 3), t, "app", 0L)
      .contains(0L))
    // replay of batch 0: skipped
    assert(DeltaWrite.idempotentAppend(kv(0, 3), t, "app", 0L).isEmpty)
    // next batch commits
    assert(DeltaWrite.idempotentAppend(kv(3, 5), t, "app", 1L)
      .contains(1L))
    // stale replay of batch 0 after batch 1: still skipped
    assert(DeltaWrite.idempotentAppend(kv(0, 3), t, "app", 0L).isEmpty)
    // a DIFFERENT app's version counter is independent
    assert(DeltaWrite.idempotentAppend(kv(50, 51), t, "other", 0L)
      .contains(2L))
    assert(DeltaRead.read(spark, t).count() == 6L)
    assert(DeltaWrite.lastTxnVersion(spark, t, "app") == 1L)
    assert(DeltaWrite.lastTxnVersion(spark, t, "none") == -1L)
  }

  test("idempotentAppend race: concurrent replay of the SAME txn " +
    "cannot double-commit") {
    val t = fresh()
    DeltaWrite.append(kv(0, 3), t): Unit
    var raced = false
    val r = DeltaWrite.idempotentAppend(kv(10, 13), t, "app", 7L,
      beforeCommit = { () =>
        if (!raced) {
          raced = true
          // the same batch commits from "another executor" first
          DeltaWrite.idempotentAppend(kv(10, 13), t, "app", 7L): Unit
        }
      })
    assert(r.isEmpty) // our attempt discovered the winner and no-op'd
    assert(DeltaRead.read(spark, t).count() == 6L) // no duplicates
  }

  test("lastTxnVersion reads checkpoint txn rows too") {
    val t = fresh()
    DeltaFixture.plantDataFile(spark, kv(0, 4), t, "a.parquet"): Unit
    DeltaFixture.writeCheckpoint(spark, t, 2, kv(0, 1).schema,
      adds = Seq("a.parquet" -> Map.empty),
      txns = Seq("app" -> 41L, "zzz" -> 9L))
    assert(DeltaWrite.lastTxnVersion(spark, t, "app") == 41L)
    // a replay below the checkpointed version no-ops
    assert(DeltaWrite.idempotentAppend(kv(9, 10), t, "app", 41L).isEmpty)
    assert(DeltaWrite.idempotentAppend(kv(9, 10), t, "app", 42L)
      .contains(3L))
  }

  test("merge: update + insert + delete in one atomic commit") {
    val ss = spark
    import ss.implicits._
    val t = fresh()
    DeltaWrite.append(kv(0, 6), t): Unit
    val updates = Seq(
      (2L, "UPDATED2", false),
      (4L, "ignored", true), // delete key 4
      (100L, "NEW100", false)) // insert
      .toDF("k", "name", "del")
    val v = DeltaWrite.merge(updates, t, Seq("k"), deleteCol = Some("del"))
    assert(v == 1L)
    val got = DeltaRead.read(spark, t).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq(
      0L -> "row0", 1L -> "row1", 2L -> "UPDATED2", 3L -> "row3",
      5L -> "row5", 100L -> "NEW100"))
    // time travel still sees the pre-merge state
    assert(DeltaRead.read(spark, t, asOf = Some(0L)).count() == 6L)
    // merged stats keep the metadata count path alive
    assert(DeltaRead.countRows(spark, t) == 6L)
  }

  test("merge rewrites ONLY files containing matched keys") {
    val t = fresh()
    DeltaWrite.append(kv(0, 3), t): Unit // file(s) A
    DeltaWrite.append(kv(10, 13), t): Unit // file(s) B
    val before = DeltaRead.snapshot(spark, t).liveFiles.map(_.path).toSet
    val ss = spark
    import ss.implicits._
    val v = DeltaWrite.merge(
      Seq((11L, "UPD")).toDF("k", "name"), t, Seq("k"))
    assert(v == 2L)
    val after = DeltaRead.snapshot(spark, t).liveFiles.map(_.path).toSet
    // every file of the untouched append is still live verbatim
    val keptA = before.filter(after.contains)
    assert(keptA.nonEmpty, "expected unaffected files to survive")
    val gone = before -- after
    assert(gone.nonEmpty, "expected the matched file to be rewritten")
    val got = DeltaRead.read(spark, t).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq(0L -> "row0", 1L -> "row1", 2L -> "row2",
      10L -> "row10", 11L -> "UPD", 12L -> "row12"))
  }

  test("merge guards: duplicate keys, partition keys, " +
    "concurrent live-set change") {
    val ss = spark
    import ss.implicits._
    val t = fresh()
    DeltaWrite.append(kv(0, 4), t): Unit
    val dup = intercept[IllegalArgumentException] {
      DeltaWrite.merge(
        Seq((1L, "a"), (1L, "b")).toDF("k", "name"), t, Seq("k"))
    }
    assert(dup.getMessage.contains("duplicate keys"))
    // partition-column key refused
    val tp = fresh()
    DeltaWrite.append(kv(0, 4, "s").select(col("k"), col("name"),
      col("src")), tp, partitionBy = Seq("src")): Unit
    val pk = intercept[IllegalArgumentException] {
      DeltaWrite.merge(
        Seq((1L, "a", "s")).toDF("k", "name", "src"), tp, Seq("src"))
    }
    assert(pk.getMessage.contains("partition column"))
    // concurrent live-set change refuses with a rerun message
    var raced = false
    val cc = intercept[IllegalArgumentException] {
      DeltaWrite.merge(
        Seq((1L, "UPD")).toDF("k", "name"), t, Seq("k"),
        beforeCommit = { () =>
          if (!raced) { raced = true; DeltaWrite.append(kv(50, 52), t): Unit }
        })
    }
    assert(cc.getMessage.contains("rerun the merge"))
  }

  test("merge candidate pruning: stats-less files stay candidates " +
    "(never skipped on missing evidence); empty update set no-ops") {
    val ss = spark
    import ss.implicits._
    val t = fresh()
    DeltaWrite.append(kv(0, 3), t, collectStats = false): Unit
    DeltaWrite.merge(Seq((1L, "UPD")).toDF("k", "name"), t, Seq("k")): Unit
    assert(DeltaRead.read(spark, t).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq(0L -> "row0", 1L -> "UPD", 2L -> "row2"))
    // empty updates: no removes, no adds beyond none — a no-op commit
    val v = DeltaWrite.merge(
      Seq.empty[(Long, String)].toDF("k", "name"), t, Seq("k"))
    assert(DeltaRead.read(spark, t).count() == 3L)
    assert(v == DeltaRead.versions(spark, t).max)
  }

  test("merge with partitioned table rewrites within partitions") {
    val ss = spark
    import ss.implicits._
    val t = fresh()
    val df = kv(0, 6).withColumn("src",
      when(col("k") < 3, "a").otherwise("b"))
    DeltaWrite.append(df, t, partitionBy = Seq("src")): Unit
    DeltaWrite.merge(
      Seq((1L, "UPD", "a"), (77L, "NEW", "b")).toDF("k", "name", "src"),
      t, Seq("k")): Unit
    val got = DeltaRead.read(spark, t).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(got.toSeq == Seq(
      (0L, "row0", "a"), (1L, "UPD", "a"), (2L, "row2", "a"),
      (3L, "row3", "b"), (4L, "row4", "b"), (5L, "row5", "b"),
      (77L, "NEW", "b")))
  }

  test("merge that deletes a whole file removes it without " +
    "replacement rows") {
    val ss = spark
    import ss.implicits._
    val t = fresh()
    DeltaWrite.append(kv(0, 2), t): Unit
    DeltaWrite.append(kv(10, 12), t): Unit
    DeltaWrite.merge(
      Seq((0L, "x", true), (1L, "x", true)).toDF("k", "name", "del"),
      t, Seq("k"), deleteCol = Some("del")): Unit
    assert(DeltaRead.read(spark, t).orderBy("k")
      .collect().map(_.getLong(0)).toSeq == Seq(10L, 11L))
  }

  test("vacuum removes dead + orphan files, keeps live and recent; " +
    "time travel dies, current state survives") {
    val t = fresh()
    DeltaWrite.append(kv(0, 3), t): Unit
    val v0Files = DeltaRead.snapshot(spark, t).liveFiles.size
    DeltaWrite.overwrite(kv(10, 13), t): Unit // v0's files now dead
    val liveFiles = DeltaRead.snapshot(spark, t).liveFiles.size
    DeltaFixture.plantDataFile(spark, kv(900, 902), t,
      "_staging-dead/part-orphan.parquet"): Unit
    DeltaFixture.plantDataFile(spark, kv(900, 902), t,
      "loose-orphan.parquet"): Unit
    // dry run reports, deletes nothing
    val dry = DeltaWrite.vacuum(spark, t, retainMs = 0, dryRun = true)
    assert(dry.removed.size == v0Files + 2) // dead v0 files + 2 orphans
    assert(DeltaRead.read(spark, t, asOf = Some(0L)).count() == 3L)
    // real vacuum
    val rep = DeltaWrite.vacuum(spark, t, retainMs = 0)
    assert(rep.removed == dry.removed && rep.liveKept == liveFiles.toLong)
    assert(DeltaRead.read(spark, t).orderBy("k")
      .collect().map(_.getLong(0)).toSeq == Seq(10L, 11L, 12L))
    // time travel to v0 now fails on the data scan
    intercept[Exception] {
      DeltaRead.read(spark, t, asOf = Some(0L)).count()
    }
    // a fresh vacuum finds nothing
    assert(DeltaWrite.vacuum(spark, t, retainMs = 0).removed.isEmpty)
  }

  test("vacuum retention window protects recent uncommitted files") {
    val t = fresh()
    DeltaWrite.append(kv(0, 3), t): Unit
    DeltaFixture.plantDataFile(spark, kv(900, 902), t,
      "_staging-inflight/part-x.parquet"): Unit
    val rep = DeltaWrite.vacuum(spark, t) // default 7-day retention
    assert(rep.removed.isEmpty && rep.recentKept == 1L)
  }

  test("appendEvolve adds nullable columns; history reads them null") {
    val ss = spark
    import ss.implicits._
    val t = fresh()
    DeltaWrite.append(kv(0, 2), t): Unit
    val v = DeltaWrite.appendEvolve(
      Seq((10L, "row10", "en")).toDF("k", "name", "lang"), t)
    assert(v == 1L)
    val got = DeltaRead.read(spark, t).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getString(2)))
    assert(got.toSeq == Seq(
      (0L, "row0", null), (1L, "row1", null), (10L, "row10", "en")))
    // plain append must now match the EVOLVED schema
    intercept[IllegalArgumentException] {
      DeltaWrite.append(kv(20, 21), t)
    }
    assert(DeltaWrite.appendEvolve(
      Seq((20L, "row20", "de")).toDF("k", "name", "lang"), t) == 2L)
    // destructive evolution refuses
    val drop = intercept[IllegalArgumentException] {
      DeltaWrite.appendEvolve(Seq((30L, "x")).toDF("k", "name"), t)
    }
    assert(drop.getMessage.contains("drops column"))
    val retype = intercept[IllegalArgumentException] {
      DeltaWrite.appendEvolve(
        Seq((30, "x", "fr")).toDF("k", "name", "lang")
          .withColumn("k", col("k").cast("int")), t)
    }
    assert(retype.getMessage.contains("retypes"))
  }

  test("appendEvolve preserves the table id and configuration " +
    "(only schemaString changes in the new metaData)") {
    val ss = spark
    import ss.implicits._
    val t = fresh()
    // plant a v0 with a STABLE id and a load-bearing configuration
    val schema = kv(0, 1).schema
    val size = DeltaFixture.plantDataFile(spark, kv(0, 3), t, "a.parquet")
    val metaLine = DeltaFixture.metaDataLine("stable-id", schema)
      .replace("\"configuration\":{}",
        "\"configuration\":{\"delta.appendOnly\":\"true\"}")
    DeltaFixture.writeCommit(spark, t, 0, Seq(
      DeltaFixture.protocolLine(),
      metaLine,
      DeltaFixture.addLine("a.parquet", size)))
    val v = DeltaWrite.appendEvolve(
      Seq((10L, "row10", "en")).toDF("k", "name", "lang"), t)
    assert(v == 1L)
    val snap = DeltaRead.snapshot(spark, t)
    assert(snap.metaId == "stable-id",
      "table id must survive schema evolution")
    assert(snap.configuration.get("delta.appendOnly").contains("true"),
      "configuration must survive schema evolution")
    assert(snap.schema.fieldNames.toSeq == Seq("k", "name", "lang"))
    // the preserved appendOnly still gates a later overwrite
    val e = intercept[IllegalArgumentException] {
      DeltaWrite.overwrite(
        Seq((0L, "x", "y")).toDF("k", "name", "lang"), t)
    }
    assert(e.getMessage.contains("appendOnly"))
  }

  test("appendEvolve without new columns degrades to plain append; " +
    "on a fresh path it creates the table") {
    val t = fresh()
    assert(DeltaWrite.appendEvolve(kv(0, 2), t) == 0L)
    assert(DeltaWrite.appendEvolve(kv(2, 4), t) == 1L)
    assert(DeltaRead.read(spark, t).count() == 4L)
  }

  test("checkpoint + cleanupLog: table replays from the checkpoint, " +
    "stats/config/txns survive compaction") {
    val ss = spark
    import ss.implicits._
    val t = fresh()
    DeltaWrite.append(kv(0, 5), t): Unit
    DeltaWrite.idempotentAppend(kv(5, 8), t, "app", 3L): Unit
    DeltaWrite.overwrite(kv(100, 104), t): Unit
    DeltaWrite.idempotentAppend(kv(104, 106), t, "app", 4L): Unit
    val cv = DeltaWrite.checkpoint(spark, t)
    assert(cv == 3L)
    val removed = DeltaWrite.cleanupLog(spark, t)
    assert(removed == 4) // JSONs 0..3 retired
    // replay now comes from the checkpoint alone
    assert(DeltaRead.versions(spark, t) == Seq(3L))
    assert(DeltaRead.read(spark, t).orderBy("k")
      .collect().map(_.getLong(0)).toSeq == (100L until 106L))
    // stats survived: metadata-only count still works
    assert(DeltaRead.countRows(spark, t) == 6L)
    // txn counters survived: replay of batch 4 still no-ops
    assert(DeltaWrite.idempotentAppend(kv(104, 106), t, "app", 4L).isEmpty)
    // and the table keeps accepting commits past the checkpoint
    assert(DeltaWrite.append(kv(200, 201), t) == 4L)
    assert(DeltaRead.read(spark, t).count() == 7L)
    // a second checkpoint at the new tip + cleanup again
    assert(DeltaWrite.checkpoint(spark, t) == 4L)
    assert(DeltaWrite.cleanupLog(spark, t) == 1)
    assert(DeltaRead.read(spark, t).count() == 7L)
  }

  test("checkpoint preserves configuration (appendOnly survives " +
    "log cleanup)") {
    val t = fresh()
    val schema = kv(0, 1).schema
    val size = DeltaFixture.plantDataFile(spark, kv(0, 3), t, "a.parquet")
    val metaLine = DeltaFixture.metaDataLine("ao-id", schema)
      .replace("\"configuration\":{}",
        "\"configuration\":{\"delta.appendOnly\":\"true\"}")
    DeltaFixture.writeCommit(spark, t, 0, Seq(
      DeltaFixture.protocolLine(), metaLine,
      DeltaFixture.addLine("a.parquet", size,
        stats = Some(DeltaFixture.statsJson(3, Map.empty)))))
    DeltaWrite.checkpoint(spark, t): Unit
    DeltaWrite.cleanupLog(spark, t): Unit
    // the constraint must still be visible post-cleanup
    val snap = DeltaRead.snapshot(spark, t)
    assert(snap.configuration.get("delta.appendOnly").contains("true"))
    assert(snap.metaId == "ao-id")
    val e = intercept[IllegalArgumentException] {
      DeltaWrite.overwrite(kv(0, 1), t)
    }
    assert(e.getMessage.contains("appendOnly"))
    assert(DeltaWrite.append(kv(10, 11), t) == 1L)
  }

  test("cleanupLog without a checkpoint refuses") {
    val t = fresh()
    DeltaWrite.append(kv(0, 2), t): Unit
    val e = intercept[IllegalArgumentException] {
      DeltaWrite.cleanupLog(spark, t)
    }
    assert(e.getMessage.contains("without a checkpoint"))
  }

  test("append to a checkpoint-based (vacuumed-head) table") {
    val t = fresh()
    val schema = kv(0, 1).schema
    DeltaFixture.plantDataFile(spark, kv(0, 4), t, "a.parquet"): Unit
    DeltaFixture.writeCheckpoint(spark, t, 2, schema,
      adds = Seq("a.parquet" -> Map.empty))
    val v = DeltaWrite.append(kv(10, 12), t)
    assert(v == 3L)
    assert(DeltaRead.read(spark, t).orderBy("k")
      .collect().map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 3L, 10L, 11L))
  }

  test("FRESH torn commit debris is never deleted (an in-flight " +
    "concurrent committer is indistinguishable from a torn crash)") {
    val t = fresh()
    DeltaWrite.append(kv(0, 3), t): Unit
    val fs = new Path(t).getFileSystem(spark.sessionState.newHadoopConf())
    val v1 = new Path(new Path(t, "_delta_log"), f"${1L}%020d.json")
    var planted = false
    // plant fresh unparseable bytes at version 1 AFTER the initial
    // snapshot — simulating a concurrent committer visible mid-close
    val e = intercept[Exception] {
      DeltaWrite.append(kv(10, 12), t, beforeCommit = { () =>
        if (!planted) {
          planted = true
          val out = fs.create(v1, false)
          try out.write("{not json".getBytes("UTF-8")) finally out.close()
        }
      })
    }
    // the writer loses the race and fails loudly at the retry's
    // re-snapshot (the tip is unreadable) — but NEVER deletes the file
    assert(fs.exists(v1), "fresh in-flight commit file was deleted")
    val buf = new Array[Byte](9)
    val in = fs.open(v1)
    try in.readFully(0L, buf) finally in.close()
    assert(new String(buf, "UTF-8") == "{not json",
      s"in-flight commit content clobbered (${e.getMessage})")
  }

  test("STALE torn commit debris (older than the staleness window) " +
    "heals: the writer deletes it and commits at that version") {
    val t = fresh()
    DeltaWrite.append(kv(0, 3), t): Unit
    val fs = new Path(t).getFileSystem(spark.sessionState.newHadoopConf())
    val v1 = new Path(new Path(t, "_delta_log"), f"${1L}%020d.json")
    var planted = false
    val v = DeltaWrite.append(kv(10, 12), t, beforeCommit = { () =>
      if (!planted) {
        planted = true
        val out = fs.create(v1, false)
        try out.write("{not json".getBytes("UTF-8")) finally out.close()
        // age it past the heal threshold — a crash from long ago
        val old = System.currentTimeMillis() -
          DeltaWrite.HealStalenessMs - 60000L
        fs.setTimes(v1, old, old)
      }
    })
    assert(v == 1L)
    assert(DeltaRead.read(spark, t).count() == 5L)
  }

  test("writerGate survives a garbage line below the checkpoint: " +
    "appendOnly declared only in checkpoint metaData still gates") {
    val t = fresh()
    // v0 with appendOnly, v1 append, checkpoint at 1 (carries config)
    val schema = kv(0, 1).schema
    val size = DeltaFixture.plantDataFile(spark, kv(0, 3), t, "a.parquet")
    val metaLine = DeltaFixture.metaDataLine("ao2", schema)
      .replace("\"configuration\":{}",
        "\"configuration\":{\"delta.appendOnly\":\"true\"}")
    DeltaFixture.writeCommit(spark, t, 0, Seq(
      DeltaFixture.protocolLine(), metaLine,
      DeltaFixture.addLine("a.parquet", size)))
    DeltaWrite.append(kv(10, 12), t): Unit
    DeltaWrite.checkpoint(spark, t): Unit
    // simulate a crashed cleanupLog: v1's json is gone, v0's remains —
    // the reader now replays from the checkpoint and NEVER parses v0
    val fs = new Path(t).getFileSystem(spark.sessionState.newHadoopConf())
    val logDir = new Path(t, "_delta_log")
    fs.delete(new Path(logDir, f"${1L}%020d.json"), false): Unit
    // corrupt v0 with a LEADING garbage line: only the writer gate
    // parses this file — one bad line must not disable the gate for
    // the appendOnly metaData line below it
    val v0 = new Path(logDir, f"${0L}%020d.json")
    val st = fs.getFileStatus(v0)
    val buf = new Array[Byte](st.getLen.toInt)
    val in = fs.open(v0)
    try in.readFully(0L, buf) finally in.close()
    val out = fs.create(v0, true)
    try {
      out.write("garbage-not-json\n".getBytes("UTF-8"))
      out.write(buf)
    } finally out.close()
    // reads fine (checkpoint replay), append fine, overwrite REFUSED
    assert(DeltaRead.read(spark, t).count() == 5L)
    assert(DeltaWrite.append(kv(20, 21), t) == 2L)
    val e = intercept[IllegalArgumentException] {
      DeltaWrite.overwrite(kv(0, 1), t)
    }
    assert(e.getMessage.contains("appendOnly"))
  }

  test("vacuum keeps LIVE deletion-vector sidecars (they are as " +
    "load-bearing as the data files they mask); orphan DV files go") {
    val t = fresh()
    val fs = new Path(t).getFileSystem(spark.sessionState.newHadoopConf())
    val root = fs.makeQualified(new Path(t))
    val size = DeltaFixture.plantDataFile(spark,
      kv(0, 5).coalesce(1).sortWithinPartitions("k"), t, "a.parquet")
    val uuid = java.util.UUID.nameUUIDFromBytes("vac-dv".getBytes)
    val spans = DeletionVectors.writeDvFile(fs,
      new Path(root, s"deletion_vector_$uuid.bin"), Seq(Array(1L)))
    val ub = java.nio.ByteBuffer.allocate(16)
    ub.putLong(uuid.getMostSignificantBits)
    ub.putLong(uuid.getLeastSignificantBits)
    val dv = DeletionVectors.DvDescriptor("u",
      DeletionVectors.z85Encode(ub.array()),
      Some(spans.head._1), spans.head._2, 1L)
    DeltaFixture.writeCommit(spark, t, 0, Seq(
      DeltaFixture.protocolFeaturesLine(3, 2, Seq("deletionVectors")),
      DeltaFixture.metaDataLine("vacdv", kv(0, 1).schema),
      DeltaFixture.addLine("a.parquet", size, dv = Some(dv),
        stats = Some(DeltaFixture.statsJson(5, Map("k" -> (0L, 4L)))))))
    // an ORPHAN dv file nobody references
    DeletionVectors.writeDvFile(fs,
      new Path(root, "deletion_vector_orphan.bin"), Seq(Array(0L))): Unit
    // age everything past retention
    val old = System.currentTimeMillis() - 1000000L
    fs.listStatus(root).filter(_.isFile)
      .foreach(st => fs.setTimes(st.getPath, old, old))
    val report = DeltaWrite.vacuum(spark, t, retainMs = 500000L)
    assert(report.removed.exists(_.contains("orphan")),
      s"orphan DV should go: ${report.removed}")
    assert(!report.removed.exists(_.contains(uuid.toString)),
      s"LIVE DV sidecar must survive: ${report.removed}")
    // the table still reads with the mask applied
    assert(DeltaRead.read(spark, t).orderBy("k")
      .collect().map(_.getLong(0)).toSeq == Seq(0L, 2L, 3L, 4L))
    // and checkpointing it refuses: this writer's checkpoint rows
    // carry no DV struct, so a checkpoint would erase the mask
    val e = intercept[IllegalArgumentException] {
      DeltaWrite.checkpoint(spark, t)
    }
    assert(e.getMessage.contains("erase the masks"), e.getMessage)
  }

  test("merge refuses after a concurrent METADATA-only commit " +
    "(configuration change invalidates validated constraints)") {
    val ss = spark
    import ss.implicits._
    val t = fresh()
    DeltaWrite.append(kv(0, 4), t): Unit
    var raced = false
    val e = intercept[IllegalArgumentException] {
      DeltaWrite.merge(Seq((1L, "UPD")).toDF("k", "name"), t, Seq("k"),
        beforeCommit = { () =>
          if (!raced) {
            raced = true
            // concurrent metadata-only commit: same live files, new
            // configuration (flips appendOnly)
            val snap = DeltaRead.snapshot(spark, t)
            val metaLine = DeltaFixture
              .metaDataLine(snap.metaId, snap.schema)
              .replace("\"configuration\":{}",
                "\"configuration\":{\"delta.appendOnly\":\"true\"}")
            DeltaFixture.writeCommit(spark, t, snap.version + 1,
              Seq(metaLine))
          }
        })
    }
    assert(e.getMessage.contains("concurrent commit changed the table"))
  }

  test("merge retry guard sees DVs: a concurrent DV deleteWhere " +
    "keeps the path set identical but must still refuse the merge") {
    val ss = spark
    import ss.implicits._
    val t = fresh()
    val schema = kv(0, 1).schema
    val sa = DeltaFixture.plantDataFile(spark, kv(0, 5), t, "a.parquet")
    val sb = DeltaFixture.plantDataFile(spark, kv(10, 13), t, "b.parquet")
    DeltaFixture.writeCommit(spark, t, 0, Seq(
      DeltaFixture.protocolFeaturesLine(3, 7,
        Seq("deletionVectors"), Seq("deletionVectors")),
      DeltaFixture.metaDataLine("mdvrace", schema),
      DeltaFixture.addLine("a.parquet", sa,
        stats = Some(DeltaFixture.statsJson(5, Map("k" -> ((0L, 4L)))))),
      DeltaFixture.addLine("b.parquet", sb,
        stats = Some(DeltaFixture.statsJson(3, Map("k" -> ((10L, 12L))))))))
    var raced = false
    val e = intercept[IllegalArgumentException] {
      DeltaWrite.merge(Seq((1L, "UPD")).toDF("k", "name"), t, Seq("k"),
        beforeCommit = { () =>
          if (!raced) {
            raced = true
            // concurrent DV delete in file b: remove+re-add of the
            // SAME path — the pre-fix path-only guard passed here and
            // silently resurrected k=11 through the merge's survivors
            DeltaWrite.deleteWhere(spark, t, col("k") === 11L): Unit
          }
        })
    }
    assert(e.getMessage.contains("concurrent commit changed the table"),
      e.getMessage)
    // the concurrent delete survived — k=11 stays dead
    assert(!DeltaRead.read(spark, t).collect().map(_.getLong(0))
      .contains(11L))
  }

  test("optimize retry guard sees DVs: a concurrent deleteWhere on a " +
    "to-be-compacted file refuses the optimize instead of " +
    "resurrecting the deleted rows") {
    val ss = spark
    import ss.implicits._
    val t = fresh()
    val schema = kv(0, 1).schema
    val sa = DeltaFixture.plantDataFile(spark, kv(0, 5), t, "a.parquet")
    val sb = DeltaFixture.plantDataFile(spark, kv(10, 13), t, "b.parquet")
    DeltaFixture.writeCommit(spark, t, 0, Seq(
      DeltaFixture.protocolFeaturesLine(3, 7,
        Seq("deletionVectors"), Seq("deletionVectors")),
      DeltaFixture.metaDataLine("odvrace", schema),
      DeltaFixture.addLine("a.parquet", sa,
        stats = Some(DeltaFixture.statsJson(5, Map("k" -> ((0L, 4L)))))),
      DeltaFixture.addLine("b.parquet", sb,
        stats = Some(DeltaFixture.statsJson(3, Map("k" -> ((10L, 12L))))))))
    var raced = false
    val e = intercept[IllegalArgumentException] {
      DeltaWrite.optimize(spark, t, beforeCommit = { () =>
        if (!raced) {
          raced = true
          // the delete re-adds a.parquet at the SAME path with a DV —
          // optimize's compacted files were scanned pre-DV
          DeltaWrite.deleteWhere(spark, t, col("k") === 1L): Unit
        }
      })
    }
    assert(e.getMessage.contains("DV-masked"), e.getMessage)
    // the delete's effect survives; nothing resurrected
    assert(DeltaRead.read(spark, t).orderBy("k").collect()
      .map(_.getLong(0)).toSeq == Seq(0L, 2L, 3L, 4L, 10L, 11L, 12L))
  }

  test("whole-file deletes are metadata-only: no DV sidecar is " +
    "authored for a fully-dead file (round-17 residual — a " +
    "whole-table DELETE never concentrates row indexes in one task)") {
    val t = fresh()
    DeltaWrite.append(kv(0, 6), t): Unit
    DeltaWrite.enableFeature(spark, t, "deletionVectors"): Unit
    val fs = new Path(t).getFileSystem(
      spark.sessionState.newHadoopConf())
    def sidecars(): Int =
      fs.listStatus(new Path(t)).count(
        _.getPath.getName.startsWith("deletion_vector_"))
    // partial delete: one DV sidecar appears
    val r1 = DeltaWrite.deleteWhere(spark, t, col("k") === 1L)
    assert(r1.filesFullyRemoved == 0L)
    val afterPartial = sidecars()
    assert(afterPartial >= 1)
    // whole-table delete: every remaining file is FULLY dead — plain
    // removals, zero new sidecars authored
    val r2 = DeltaWrite.deleteWhere(spark, t, lit(true))
    assert(r2.filesFullyRemoved == r2.filesTouched && r2.deletedRows == 5L,
      r2.toString)
    assert(sidecars() == afterPartial,
      "fully-dead files must not author DV sidecars")
    assert(DeltaRead.read(spark, t).isEmpty)
    assert(DeltaRead.snapshot(spark, t).liveFiles.isEmpty)
  }

  test("enableFeature(deletionVectors): ordinary tables upgrade to " +
    "v7 and DV DML works; legacy obligations listed; idempotent") {
    val t = fresh()
    DeltaWrite.append(kv(0, 6), t): Unit
    // pre-upgrade: DV DML refuses
    intercept[IllegalArgumentException] {
      DeltaWrite.deleteWhere(spark, t, col("k") === 1L)
    }
    val v = DeltaWrite.enableFeature(spark, t, "deletionVectors")
    assert(v == 1L)
    // re-enabling is a no-op (no empty commits)
    assert(DeltaWrite.enableFeature(spark, t, "deletionVectors") == 1L)
    // DV DML now works on the ordinary table
    val rep = DeltaWrite.deleteWhere(spark, t, col("k").isin(1L, 3L))
    assert(rep.deletedRows == 2L, rep.toString)
    assert(DeltaRead.read(spark, t).orderBy("k").collect()
      .map(_.getLong(0)).toSeq == Seq(0L, 2L, 4L, 5L))
    // the protocol commit lists the legacy writer obligations the old
    // v2 implied (appendOnly, invariants) — spec upgrade rule
    val logTxt = new String(graft.ScratchSpace.readBytes(spark,
      new Path(new Path(t), "_delta_log/00000000000000000001.json")
        .toString), "UTF-8")
    assert(logTxt.contains("\"appendOnly\"") &&
      logTxt.contains("\"invariants\"") &&
      logTxt.contains("\"deletionVectors\""), logTxt)
    assert(logTxt.contains("\"minReaderVersion\":3") &&
      logTxt.contains("\"minWriterVersion\":7"), logTxt)
    // ordinary writes still pass the upgraded gate
    assert(DeltaWrite.append(kv(20, 22), t) > v)
    // unknown features refuse
    intercept[IllegalArgumentException] {
      DeltaWrite.enableFeature(spark, t, "unknownFeature")
    }
  }

  test("enableFeature(changeDataFeed): config + protocol in ONE " +
    "commit; CDF DML records change rows afterward") {
    val ss = spark
    import ss.implicits._
    val t = fresh()
    DeltaWrite.append(kv(0, 4), t): Unit
    val v = DeltaWrite.enableFeature(spark, t, "changeDataFeed")
    assert(v == 1L)
    val snap = DeltaRead.snapshot(spark, t)
    assert(snap.configuration.get("delta.enableChangeDataFeed")
      .contains("true"))
    // merge after the upgrade writes cdc actions readCdf replays
    DeltaWrite.merge(Seq((1L, "UPD")).toDF("k", "name"), t,
      Seq("k")): Unit
    val feed = DeltaRead.readCdf(spark, t, 2).orderBy("_change_type")
      .collect().map(r => (r.getLong(0), r.getString(2)))
    assert(feed.toSeq == Seq((1L, "update_postimage"),
      (1L, "update_preimage")), feed.mkString(";"))
  }

  test("CHECK constraints: enforced across merge, updateWhere and " +
    "appendEvolve; NULL predicate passes; constraint survives " +
    "evolution") {
    val ss = spark
    import ss.implicits._
    val t = fresh()
    val schema = kv(0, 1).schema
    val sa = DeltaFixture.plantDataFile(spark, kv(0, 4), t, "a.parquet")
    val constrained = DeltaFixture.metaDataLine("ck", schema)
      .replace("\"configuration\":{}",
        "\"configuration\":{\"delta.constraints.kpos\":\"k >= 0\"}")
    DeltaFixture.writeCommit(spark, t, 0, Seq(
      DeltaFixture.protocolFeaturesLine(3, 7,
        Seq("deletionVectors"),
        Seq("deletionVectors", "checkConstraints", "appendOnly",
          "invariants")),
      constrained,
      DeltaFixture.addLine("a.parquet", sa,
        stats = Some(DeltaFixture.statsJson(4, Map("k" -> ((0L, 3L))))))))
    // merge: violating upsert refuses, valid one lands
    val em = intercept[IllegalArgumentException] {
      DeltaWrite.merge(Seq((-9L, "bad")).toDF("k", "name"), t, Seq("k"))
    }
    assert(em.getMessage.contains("CHECK constraint 'kpos'"))
    DeltaWrite.merge(Seq((9L, "ok")).toDF("k", "name"), t, Seq("k")): Unit
    // updateWhere: a SET that breaks the constraint refuses
    val eu = intercept[IllegalArgumentException] {
      DeltaWrite.updateWhere(spark, t, col("k") === 2L,
        Map("k" -> lit(-5L)))
    }
    assert(eu.getMessage.contains("CHECK constraint 'kpos'"))
    // NULL predicate result passes (SQL CHECK semantics): null key
    val vN = DeltaWrite.append(
      Seq((null.asInstanceOf[java.lang.Long], "nullk"))
        .toDF("k", "name").select(col("k").cast("long"), col("name")),
      t)
    assert(vN > 0L)
    // appendEvolve keeps enforcing: the constraint survives the
    // metaData replacement (configuration carried through)
    val ee = intercept[IllegalArgumentException] {
      DeltaWrite.appendEvolve(
        Seq((-1L, "bad", "x")).toDF("k", "name", "extra"), t)
    }
    assert(ee.getMessage.contains("CHECK constraint 'kpos'"))
    DeltaWrite.appendEvolve(
      Seq((30L, "ok", "x")).toDF("k", "name", "extra"), t): Unit
    val snap = DeltaRead.snapshot(spark, t)
    assert(snap.configuration.contains("delta.constraints.kpos"))
    // post-evolution appends still enforce
    val ep = intercept[IllegalArgumentException] {
      DeltaWrite.append(
        Seq((-2L, "bad", "y")).toDF("k", "name", "extra"), t)
    }
    assert(ep.getMessage.contains("CHECK constraint 'kpos'"))
  }

  test("checkpoint carries the CURRENT protocol: a DV-upgraded table " +
    "keeps its deletionVectors declaration through cleanupLog") {
    val t = fresh()
    DeltaWrite.append(kv(0, 6), t): Unit
    DeltaWrite.enableFeature(spark, t, "deletionVectors"): Unit
    DeltaWrite.append(kv(6, 8), t): Unit
    assert(DeltaWrite.checkpoint(spark, t) == 2L)
    assert(DeltaWrite.cleanupLog(spark, t) == 3)
    // DV DML works on the table whose only protocol row is the
    // checkpoint's
    assert(DeltaWrite.deleteWhere(spark, t, col("k") === 1L).deletedRows == 1L)
    assert(DeltaRead.read(spark, t).orderBy("k").collect()
      .map(_.getLong(0)).toSeq == Seq(0L, 2L, 3L, 4L, 5L, 6L, 7L))
    val proto = spark.read
      .parquet(f"$t/_delta_log/${2L}%020d.checkpoint.parquet")
      .where(col("protocol").isNotNull).select("protocol.*").collect()
    assert(proto.length == 1)
    val r = proto.head
    assert((r.getAs[Int]("minReaderVersion"),
      r.getAs[Int]("minWriterVersion")) == ((3, 7)), r.toString)
    def feats(c: String) = r.getSeq[String](r.fieldIndex(c))
    assert(feats("readerFeatures").contains("deletionVectors") &&
      feats("writerFeatures").contains("deletionVectors"), r.toString)
  }

  test("writer scans read multi-part checkpoints: a part-1 protocol " +
    "row gates the writer, a part-2 txn row counts for idempotence") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = kv(0, 1).schema
    val cpT = StructType(Seq(
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType)))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType),
        StructField("format",
          StructType(Seq(StructField("provider", StringType)))),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType))))),
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues",
          MapType(StringType, StringType, valueContainsNull = true)),
        StructField("size", LongType),
        StructField("modificationTime", LongType),
        StructField("dataChange", BooleanType)))),
      StructField("txn", StructType(Seq(
        StructField("appId", StringType),
        StructField("version", LongType))))))
    // a vacuumed-head table: 2-part checkpoint at v5 + a JSON tail
    def table(minWriter: Int): String = {
      val t = fresh()
      val sa = DeltaFixture.plantDataFile(spark, kv(0, 4), t, "a.parquet")
      val sb = DeltaFixture.plantDataFile(spark, kv(4, 6), t, "b.parquet")
      val parts = Seq(
        Seq(Row(Row(1, minWriter), null, null, null),
          Row(null, Row("mp", Row("parquet"), schema.json, Seq.empty[String]),
            null, null)),
        Seq(Row(null, null,
          Row("a.parquet", Map.empty[String, String], sa, 0L, true), null),
          Row(null, null, null, Row("a", 9L))))
      parts.zipWithIndex.foreach { case (rows, i) =>
        val df = spark.createDataFrame(
          java.util.Arrays.asList(rows: _*), cpT)
        DeltaFixture.plantDataFile(spark, df, t,
          f"_delta_log/${5L}%020d.checkpoint.${i + 1}%010d.${2}%010d.parquet")
          : Unit
      }
      DeltaFixture.writeCommit(spark, t, 6, Seq(
        DeltaFixture.addLine("b.parquet", sb)))
      assert(DeltaRead.read(spark, t).count() == 6L)
      t
    }
    val gated = table(minWriter = 5)
    val e = intercept[IllegalArgumentException] {
      DeltaWrite.append(kv(10, 11), gated)
    }
    assert(e.getMessage.contains("writer version 5"), e.getMessage)
    val t = table(minWriter = 2)
    assert(DeltaWrite.lastTxnVersion(spark, t, "a") == 9L)
    assert(DeltaWrite.idempotentAppend(kv(10, 11), t, "a", 9L).isEmpty)
    assert(DeltaWrite.idempotentAppend(kv(10, 11), t, "a", 10L)
      .contains(7L))
  }

  private val benignRacer =
    Seq("""{"commitInfo":{"operation":"Racer","timestamp":0}}""")

  /** Arm a benign competitor at the table's next version; returns it. */
  private def armBenign(t: String): Long = {
    val n = DeltaRead.versions(spark, t).max + 1
    RaceFileSystem.arm(benignRacer)
    n
  }

  private def racerAt(t: String, v: Long): Boolean =
    !RaceFileSystem.armed && new String(graft.ScratchSpace.readBytes(
      spark, f"$t/_delta_log/$v%020d.json"), "UTF-8").contains("\"Racer\"")

  test("benign commit race at the version being created: enableFeature, " +
    "deleteWhere, updateWhere, appendEvolve and restore each land one " +
    "version later with the same table content") {
    val t = RaceFileSystem.table(spark, "deltarace_")
    DeltaWrite.append(kv(0, 6), t): Unit
    def keys(): Seq[(Long, String)] = DeltaRead.read(spark, t)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    var n = armBenign(t)
    assert(DeltaWrite.enableFeature(spark, t, "deletionVectors") == n + 1)
    assert(racerAt(t, n))
    assert(DeltaRead.snapshot(spark, t).configuration
      .get("delta.enableDeletionVectors").contains("true"))
    n = armBenign(t)
    assert(DeltaWrite.deleteWhere(spark, t, col("k") === 1L).version
      .contains(n + 1))
    assert(racerAt(t, n))
    assert(keys() == Seq(0L, 2L, 3L, 4L, 5L).map(i => (i, s"row$i")))
    n = armBenign(t)
    assert(DeltaWrite.updateWhere(spark, t, col("k") === 2L,
      Map("name" -> lit("upd"))).version.contains(n + 1))
    assert(racerAt(t, n))
    val updated = Seq(0L, 2L, 3L, 4L, 5L)
      .map(i => (i, if (i == 2L) "upd" else s"row$i"))
    assert(keys() == updated)
    val beforeEvolve = n + 1
    n = armBenign(t)
    assert(DeltaWrite.appendEvolve(
      kv(10, 12).withColumn("extra", lit("x")), t) == n + 1)
    assert(racerAt(t, n))
    assert(DeltaRead.read(spark, t).where(col("extra") === "x")
      .count() == 2L)
    n = armBenign(t)
    assert(DeltaWrite.restore(spark, t, beforeEvolve) == n + 1)
    assert(racerAt(t, n))
    assert(keys() == updated)
  }

  test("hostile commit race: a competitor that re-adds the touched " +
    "file with a DV makes deleteWhere and updateWhere refuse") {
    def dvTable(): (String, Seq[String]) = {
      val t = RaceFileSystem.table(spark, "deltarace_")
      val fs = new Path(t).getFileSystem(spark.sessionState.newHadoopConf())
      val root = fs.makeQualified(new Path(t))
      val size = DeltaFixture.plantDataFile(spark,
        kv(0, 5).coalesce(1).sortWithinPartitions("k"), t, "a.parquet")
      val stats = Some(DeltaFixture.statsJson(5, Map("k" -> ((0L, 4L)))))
      DeltaFixture.writeCommit(spark, t, 0, Seq(
        DeltaFixture.protocolFeaturesLine(3, 7,
          Seq("deletionVectors"), Seq("deletionVectors")),
        DeltaFixture.metaDataLine("hostile", kv(0, 1).schema),
        DeltaFixture.addLine("a.parquet", size, stats = stats)))
      // the competitor masks row 0 (k = 0) of the file the verb touches
      val uuid = java.util.UUID.randomUUID()
      val spans = DeletionVectors.writeDvFile(fs,
        new Path(root, s"deletion_vector_$uuid.bin"), Seq(Array(0L)))
      val ub = java.nio.ByteBuffer.allocate(16)
      ub.putLong(uuid.getMostSignificantBits)
      ub.putLong(uuid.getLeastSignificantBits)
      val dv = DeletionVectors.DvDescriptor("u",
        DeletionVectors.z85Encode(ub.array()),
        Some(spans.head._1), spans.head._2, 1L)
      (t, Seq(DeltaFixture.removeLine("a.parquet"),
        DeltaFixture.addLine("a.parquet", size, stats = stats, dv = Some(dv))))
    }
    def rows(t: String): Seq[(Long, String)] = DeltaRead.read(spark, t)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val (t1, hostile1) = dvTable()
    RaceFileSystem.arm(hostile1)
    val e1 = intercept[IllegalArgumentException] {
      DeltaWrite.deleteWhere(spark, t1, col("k") === 3L)
    }
    assert(e1.getMessage.contains("concurrent commit changed a touched file"),
      e1.getMessage)
    // only the competitor's mask landed
    assert(rows(t1) == (1L to 4L).map(i => (i, s"row$i")))
    val (t2, hostile2) = dvTable()
    RaceFileSystem.arm(hostile2)
    val e2 = intercept[IllegalArgumentException] {
      DeltaWrite.updateWhere(spark, t2, col("k") === 3L,
        Map("name" -> lit("upd")))
    }
    assert(e2.getMessage.contains("concurrent commit changed a touched file"),
      e2.getMessage)
    assert(rows(t2) == (1L to 4L).map(i => (i, s"row$i")))
  }
}
