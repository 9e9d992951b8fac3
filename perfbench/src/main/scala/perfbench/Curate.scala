package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Texts
import graft.operators.{Dedup, Similarity}
import graft.sources.{DatasetIO, MatchMode}

/** `neardup_curate`: the compute-bound curation pass. One operation
  * reads the corpus, runs exact dedup, MinHash near-dup, connected
  * components over the verified pairs and keep-best-per-cluster, then
  * the exact prefix-filtered Jaccard join and embedding near-dup, and
  * writes the pairs, clusters and curated survivors.
  */
final class Curate(work: String, manifest: JsonNode) extends Workload {
  import Curate._
  private val sizes = manifest.get("sizes")
  private val shift = manifest.get("shift").asLong
  private val baseDocs = manifest.get("base_docs").asInt
  private val copies = sizes.get("copies").asInt
  private val dim = sizes.get("dim").asInt
  private val lake = s"file:$work/corpus/parquet"
  private var spark: SparkSession = _
  private var tracer: Tracer = _
  private var io: DatasetIO = _
  private var inputBytes = 0L
  private var inputRows = 0L
  // per operation: (prefix-join pairs, embedding pairs), checked later
  private val collected = mutable.LinkedHashMap.empty[Int, (Seq[(Long, Long)], Seq[(Long, Long)])]

  def start(spark: SparkSession, tracer: Tracer, rep: Int): Unit = {
    this.spark = spark
    this.tracer = tracer
    io = new DatasetIO(spark)
    val docs = spark.read.schema(DocSchema).json(s"$work/corpus/docs")
    val vecs = spark.read.schema(VecSchema).json(s"$work/corpus/embeddings.jsonl")
    io.write(docs, s"$lake/docs", format = Some("parquet"))
    io.write(vecs, s"$lake/embeddings", format = Some("parquet"))
    inputRows = manifest.get("docs").asLong + sizes.get("vectors").asLong
    inputBytes = dirBytes(new File(s"$work/corpus/parquet"))
  }

  def hasInput: Boolean = true

  def op(i: Int): OpOutcome = {
    val out = s"file:$work/out/op-$i"
    val docs = tracer.span("io.read") {
      tracer.boundary(io.readMatched(s"$lake/docs", "part-*.parquet",
        MatchMode.Glob, format = Some("parquet")))
    }
    val exactGroups = tracer.span("dedup.exact") {
      Dedup.exact(docs, "doc_id", "text").where(col("n_copies") > 1).count()
    }

    val pairs = tracer.span("dedup.minhash") {
      if (tracer.enabled) {
        // Materialise the pipeline's own intermediate plans: the later
        // calls find them in the cache, so each span holds one phase.
        val base = graft.SparkUtil.ensureParallelism(docs)
        val sh = Texts.shinglesOf(col("text"), ShingleWidth)
        tracer.span("dedup.signatures") {
          tracer.boundary(Dedup.minhashSignatures(
            base, col("doc_id"), sh, Bands * RowsPerBand))
        }
        val cand = tracer.span("dedup.candidates") {
          tracer.boundary(Dedup.lshCandidates(base, col("doc_id"), sh, Bands, RowsPerBand))
        }
        tracer.measure("dedup.candidate_pairs")(cand.count().toDouble)
      }
      tracer.span("dedup.verify") {
        tracer.boundary(Dedup.minhashNearDup(docs, "doc_id", "text",
          ShingleWidth, Bands, RowsPerBand, Threshold))
      }
    }
    tracer.measure("dedup.verified_pairs")(pairs.count().toDouble)
    tracer.span("io.write") { io.write(pairs, s"$out/pairs", format = Some("parquet")) }
    val stored = io.read(s"$out/pairs", format = Some("parquet"))

    val clusters = tracer.span("graphs.cc") {
      tracer.boundary(Dedup.clustersFromPairs(docs.select("doc_id"), "doc_id", stored))
    }
    tracer.measure("graphs.cc_edges")(stored.count().toDouble)
    tracer.measure("graphs.cc_components")(
      clusters.select("cluster_id").distinct().count().toDouble)
    tracer.span("io.write") { io.write(clusters, s"$out/clusters", format = Some("parquet")) }
    val clustered = io.read(s"$out/clusters", format = Some("parquet"))

    val survivors = tracer.span("dedup.survivors") {
      tracer.boundary(Dedup.clusterSurvivors(
        clustered.join(docs.select("doc_id", "n_chars"), "doc_id"),
        "cluster_id", "doc_id", col("n_chars")))
    }
    tracer.span("io.write") {
      io.write(docs.join(survivors.select(col("kept_id").as("doc_id")), "doc_id"),
        s"$out/curated", format = Some("parquet"))
    }
    tracer.measure("io.files_written")(
      Seq("pairs", "clusters", "curated").map(d => parquetFiles(s"$work/out/op-$i/$d")).sum)

    val exact = tracer.span("dedup.prefix_join") {
      val run = Dedup.prefixFilterJaccardRun(docs, "doc_id", "text",
        ShingleWidth, PrefixThreshold)
      try run.result.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      finally run.release()
    }

    val vecs = io.read(s"$lake/embeddings", format = Some("parquet"))
    tracer.measure("similarity.candidate_pairs") {
      Similarity.withBuckets(
        vecs.select(col("vec_id").as("id"),
          col("embedding").cast("array<double>").as("v"), lit(1.0).as("nrm")),
        dim, EmbBands, EmbBits)
        .groupBy("band", "bucket").count()
        .agg(sum(col("count") * (col("count") - 1) / 2)).head().getDouble(0)
    }
    val emb = tracer.span("similarity.neardup") {
      Similarity.embeddingNearDup(vecs, "vec_id", "embedding", dim, EmbBands, EmbBits,
        EmbThreshold).select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    collected(i) = (exact, emb)
    OpOutcome(exactGroups > 0 && exact.nonEmpty, inputRows, inputBytes)
  }

  /** Every emitted pair's Jaccard (or cosine), recomputed in plain
    * Scala, clears its threshold; every planted copy pair above
    * `RecoverJaccard` shares a cluster; the exact join misses no planted
    * pair above its threshold; one survivor per cluster.
    */
  def check(): (Set[Int], Map[String, Boolean]) = {
    val text = readJsonl(new File(s"$work/corpus/docs"))
      .map(n => n.get("doc_id").asLong -> shingles(n.get("text").asText)).toMap
    val vec = readJsonl(new File(s"$work/corpus/embeddings.jsonl"))
      .map(n => n.get("vec_id").asLong ->
        n.get("embedding").elements().asScala.map(_.asDouble).toArray).toMap
    def jac(a: Long, b: Long) = jaccard(text(a), text(b))
    val planted = for {
      b <- 0 until baseDocs
      k <- 1 until copies
      c = b + k * shift
    } yield (b.toLong, c, jac(b, c))
    val failed = mutable.Set.empty[Int]
    val passed = mutable.Map("pairs" -> true, "clusters" -> true,
      "survivors" -> true, "prefix_join" -> true, "embeddings" -> true)
    def fail(i: Int, what: String): Unit = { failed += i; passed(what) = false }
    for ((i, (exactPairs, embPairs)) <- collected) {
      val dir = s"file:$work/out/op-$i"
      val pairs = spark.read.parquet(s"$dir/pairs").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      if (!pairs.forall { case (a, b, j) =>
            val exact = jac(a, b); exact >= Threshold && math.abs(exact - j) < 1e-4 })
        fail(i, "pairs")
      val cluster = spark.read.parquet(s"$dir/clusters").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      if (cluster.size != text.size ||
          !planted.forall { case (b, c, j) => j < RecoverJaccard || cluster(b) == cluster(c) })
        fail(i, "clusters")
      val kept = spark.read.parquet(s"$dir/curated").select("doc_id").collect().map(_.getLong(0))
      if (kept.length != cluster.values.toSet.size ||
          kept.map(cluster).toSet.size != kept.length) fail(i, "survivors")
      val exactSet = exactPairs.toSet
      if (!exactPairs.forall { case (a, b) => jac(a, b) >= PrefixThreshold } ||
          !planted.forall { case (b, c, j) => j < PrefixThreshold || exactSet((b, c)) })
        fail(i, "prefix_join")
      if (!embPairs.forall { case (a, b) => cosine(vec(a), vec(b)) >= EmbThreshold - 1e-9 })
        fail(i, "embeddings")
    }
    (failed.toSet, passed.toMap)
  }

  def stop(): Unit = ()
}

object Curate {
  val ShingleWidth = 3
  val Bands = 8
  val RowsPerBand = 3
  val Threshold = 0.6
  val RecoverJaccard = 0.9
  val PrefixThreshold = 0.8
  val EmbBands = 2
  val EmbBits = 4
  val EmbThreshold = 0.35

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
  val VecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** The engine's shingle rule: lower(trim(text)) split on whitespace,
    * distinct n-word windows joined by one space.
    */
  def shingles(text: String, n: Int = ShingleWidth): Set[String] = {
    val toks = text.trim.toLowerCase.split("\\s+")
    toks.sliding(n).filter(_.length == n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b)
    if (a.isEmpty && b.isEmpty) 0.0 else inter.toDouble / (a.size + b.size - inter)
  }

  def cosine(a: Array[Double], b: Array[Double]): Double = {
    val f = (x: Array[Double]) => x.map(_.toFloat.toDouble)
    val (x, y) = (f(a), f(b))
    val dot = x.indices.map(i => x(i) * y(i)).sum
    dot / math.sqrt(x.map(v => v * v).sum * y.map(v => v * v).sum)
  }

  def readJsonl(f: File): Seq[JsonNode] = {
    val files = if (f.isDirectory) f.listFiles().filter(_.getName.endsWith(".jsonl")).sorted.toSeq
                else Seq(f)
    files.flatMap(x => java.nio.file.Files.readAllLines(x.toPath).asScala
      .filter(_.nonEmpty).map(l => Main.json.readTree(l)))
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
    else if (f.getName.endsWith(".crc")) 0L else f.length

  def parquetFiles(dir: String): Double =
    Option(new File(dir).listFiles()).toSeq.flatten.count(_.getName.endsWith(".parquet")).toDouble
}
