package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

import graft.sources.{DatasetCatalog, DatasetIO, DeltaRead, DeltaWrite, MatchMode}

/** `landing_ingest`: the reference blueprints' own traffic. One
  * operation lands a drop with `cli upload`, fetches its manifest with
  * `cli download`, selects the drop's data objects with a catalog glob,
  * reads them with `DatasetIO.readMatched`, appends them to the Delta
  * table of the drop's day, reads that table back, archives the drop
  * with `cli move` and expires the previous archive with `cli remove`.
  *
  * Every `DropsPerDay` drops the day rolls over to a fresh table, so an
  * operation's cost does not grow with the number of operations run
  * before it: the engine writes no Delta checkpoints, and a table read
  * replays its whole log.
  */
final class Landing(work: String, manifest: JsonNode) extends Workload {
  private val sizes = manifest.get("sizes")
  private val dates = manifest.get("dates").elements().asScala.map(_.asText).toVector
  private val dropBytes = manifest.get("drop_data_bytes").elements().asScala.map(_.asLong).toVector
  private val filesPerDrop = sizes.get("files_per_drop").asInt
  private val rowsPerDrop = filesPerDrop * sizes.get("rows_per_file").asLong
  private val standingPerDate =
    sizes.get("standing_per_date").asInt + sizes.get("decoys_per_date").asInt
  private val decoysPerDrop = 3
  private val objectsPerDrop = filesPerDrop + decoysPerDrop
  private val bucket = s"file:$work/bucket"
  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("user_id", LongType),
    StructField("amount_cents", LongType), StructField("tag", StringType)))

  private var spark: SparkSession = _
  private var tracer: Tracer = _
  private var next = 0
  private val committedRows = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val ingested = mutable.ArrayBuffer.empty[Int]

  def start(spark: SparkSession, tracer: Tracer, rep: Int): Unit = {
    this.spark = spark
    this.tracer = tracer
  }

  def hasInput: Boolean = next < dropBytes.size

  private def dropName(n: Int) = f"drop-$n%06d"
  private def day(n: Int) = dates((n / Landing.DropsPerDay) % dates.size)
  private def table(date: String) = s"$work/lake/orders/dt=$date"

  /** Runs one CLI verb in-process; returns the objects it reported. */
  private def cli(verb: String, flags: (String, String)*): Int = {
    val out = mutable.ArrayBuffer.empty[String]
    val err = mutable.ArrayBuffer.empty[String]
    val argv = verb +: flags.flatMap { case (k, v) => Seq(s"--$k", v) }
    val code = graft.cli.Main.run(argv.toArray, out += _, err += _)
    if (code != 0) throw new IllegalStateException(
      s"cli $verb exited $code: ${err.mkString("; ")}")
    tracer.count("cli.objects", out.size.toDouble)
    tracer.count("cli.calls", 1)
    out.size
  }

  def op(i: Int): OpOutcome = {
    val n = next
    next += 1
    val drop = dropName(n)
    val date = day(n)
    val prefix = s"landing/dt=$date"
    val problems = mutable.ArrayBuffer.empty[String]
    def expect(what: String, got: Long, want: Long): Unit =
      if (got != want) problems += s"$what: got $got, want $want"

    val uploaded = tracer.span("cli.upload") {
      cli("upload", "bucket-name" -> bucket,
        "source-folder-name" -> s"$work/drops/$drop",
        "source-file-name-match-type" -> "regex_match",
        "source-file-name" -> ".",
        "destination-folder-name" -> s"$prefix/$drop")
    }
    expect("uploaded", uploaded, objectsPerDrop)
    val fetched = tracer.span("cli.download") {
      cli("download", "bucket-name" -> bucket,
        "source-folder-name" -> s"$prefix/$drop",
        "source-file-name-match-type" -> "exact_match",
        "source-file-name" -> "manifest.json",
        "destination-folder-name" -> s"$work/fetched/$drop")
    }
    expect("downloaded", fetched, 1)

    val dataGlob = s"$drop/part-*.csv"
    val selected = tracer.span("catalog.select") {
      val s = new DatasetCatalog(spark).selectRecursive(
        s"$bucket/$prefix", dataGlob, MatchMode.Glob)
      tracer.count("catalog.objects_listed", standingPerDate + objectsPerDrop)
      tracer.count("catalog.objects_selected", s.size)
      s
    }
    expect("selected", selected.size, filesPerDrop)

    val rows = tracer.span("io.read") {
      tracer.boundary(new DatasetIO(spark).readMatched(
        s"$bucket/$prefix", s"^$drop/part-\\d{5}\\.csv$$", MatchMode.Regex,
        format = Some("csv"), schema = Some(schema), recursive = true))
    }
    val version = tracer.span("lake.append") { DeltaWrite.append(rows, s"file:${table(date)}") }
    val commit = new File(f"${table(date)}/_delta_log/$version%020d.json")
    tracer.measure("lake.log_bytes")(commit.length.toDouble)
    tracer.measure("lake.files_added")(Files.readAllLines(commit.toPath).asScala
      .count(_.startsWith("{\"add\"")).toDouble)
    tracer.measure("lake.commits")(1)
    committedRows(date) += rowsPerDrop
    ingested += n
    val tableRows = tracer.span("lake.read") {
      DeltaRead.read(spark, s"file:${table(date)}").count()
    }
    expect("table rows", tableRows, committedRows(date))

    val archived = tracer.span("cli.move") {
      cli("move", "source-bucket-name" -> bucket,
        "source-folder-name" -> s"$prefix/$drop",
        "source-file-name-match-type" -> "regex_match",
        "source-file-name" -> ".",
        "destination-bucket-name" -> bucket,
        "destination-folder-name" -> s"archive/$drop")
    }
    expect("archived", archived, objectsPerDrop)
    if (n > 0) {
      val removed = tracer.span("cli.remove") {
        cli("remove", "bucket-name" -> bucket,
          "source-folder-name" -> s"archive/${dropName(n - 1)}",
          "source-file-name-match-type" -> "regex_match",
          "source-file-name" -> ".")
      }
      expect("removed", removed, objectsPerDrop)
    }
    if (version < 0) problems += s"bad commit version $version"
    OpOutcome(problems.isEmpty, rowsPerDrop, dropBytes(n),
      objects = objectsPerDrop.toLong, error = problems.mkString("; "))
  }

  /** Content check: the day tables together hold exactly the rows of
    * every drop ingested, compared by a hash over the sorted canonical
    * rows.
    */
  def check(): (Set[Int], Map[String, Boolean]) = {
    def digest(lines: Seq[String]): String =
      MessageDigest.getInstance("SHA-256")
        .digest(lines.sorted.mkString("\n").getBytes(UTF_8))
        .map(b => f"$b%02x").mkString
    val expected = ingested.toSeq.flatMap { n =>
      new File(s"$work/drops/${dropName(n)}").listFiles()
        .filter(f => f.getName.matches("part-\\d{5}\\.csv")).toSeq
        .flatMap(f => Files.readAllLines(f.toPath).asScala.drop(1))
    }
    val actual = committedRows.keys.toSeq.flatMap { date =>
      DeltaRead.read(spark, s"file:${table(date)}").collect().toSeq
    }.map(r => s"${r.getLong(0)},${r.getLong(1)},${r.getLong(2)},${r.getString(3)}")
    val contentOk = actual.size == expected.size && digest(actual) == digest(expected)
    val archiveLeft = new File(s"$work/bucket/archive").listFiles()
      .map(d => Option(d.listFiles()).toSeq.flatten.count(!_.getName.startsWith(".")))
      .sum
    (if (contentOk) Set.empty else ingested.toSet,
      Map("delta_content_hash" -> contentOk,
        "one_archive_retained" -> (archiveLeft == objectsPerDrop)))
  }

  def stop(): Unit = ()
}

object Landing {
  val DropsPerDay = 4
}
