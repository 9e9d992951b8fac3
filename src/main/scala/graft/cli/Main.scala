package graft.cli

import org.apache.spark.sql.SparkSession

import graft.sources.{DatasetIO, GraftException, MatchMode, PathUtil, S3Config}

/** Blueprint-shaped CLI — the reference's primary UX, re-expressed over
  * the Spark-native IO layer. One binary, the reference's four verbs
  * plus the engine's `compact` maintenance verb:
  *
  * {{{
  * graft.cli.Main download --bucket-name b --source-file-name-match-type
  *   regex_match --source-file-name '\.csv$' --destination-folder-name out
  * }}}
  *
  * Argument names and semantics mirror the reference argparse surfaces
  * (download_file.py:10-57, upload_file.py:13-66, move_file.py:17-66,
  * remove_files.py:18-53): exact/regex match-type choice, optional
  * source/destination folders, destination renaming with `_n`
  * enumeration on multi-match, credential flags overriding the
  * environment. Exit codes are the reference's taxonomy
  * (exit_codes.py:1-3): 0 ok, 201 file-not-found, 202
  * invalid-credentials, 203 invalid-regex; 2 for usage errors
  * (argparse's convention), 1 for anything else.
  *
  * Bucket names may be bare (`my-bucket` → `s3a://my-bucket`) or full
  * URIs (`file:/tmp/x`, `hdfs://nn/x`) — the latter is what makes every
  * verb drivable in tests and on any Hadoop filesystem. Regex selection
  * ranges over the whole key space under the source folder (the
  * reference lists with a bare prefix, no delimiter), exact selection
  * addresses one dir-relative key.
  */
object Main {

  def main(args: Array[String]): Unit = sys.exit(run(args))

  private val usage: String =
    """usage: graft-cli <download|upload|move|remove> [flags]
      |  common flags:
      |    --source-file-name-match-type exact_match|regex_match   (required)
      |    --source-file-name NAME_OR_REGEX                        (required)
      |    --source-folder-name FOLDER          (default: bucket/local root)
      |    --aws-access-key-id / --aws-secret-access-key / --aws-default-region
      |    --s3-config k=v[,k=v...]     (extra fs.s3a.* Hadoop conf overrides)
      |  download|upload|remove: --bucket-name BUCKET_OR_URI       (required)
      |  download|upload|move:   --destination-file-name NAME
      |                          --destination-folder-name FOLDER
      |  upload:                 --extra-args "{'ACL': '...'}" or strict JSON '{"ACL": "..."}'
      |  move:                   --source-bucket-name / --destination-bucket-name
      |  compact:                --bucket-name BUCKET_OR_URI        (required)
      |                          [--source-folder-name FOLDER]
      |                          [--target-file-size-mb N]  (default 128)
      |                          [--retain-previous true]   (keep history)
      |""".stripMargin

  /** Testable entrypoint: parses, dispatches, returns the process exit
    * code instead of calling `sys.exit`.
    */
  def run(
      args: Array[String],
      out: String => Unit = println,
      err: String => Unit = s => System.err.println(s)): Int = {
    if (args.isEmpty) { err(usage); return 2 }
    val verb = args.head
    if (!Set("download", "upload", "move", "remove", "compact")
        .contains(verb)) {
      err(s"unknown command '$verb'\n$usage"); return 2
    }
    parseFlags(args.tail.toSeq) match {
      case Left(problem) => err(s"$problem\n$usage"); 2
      case Right(flags) =>
        validate(verb, flags) match {
          case Some(problem) => err(s"$problem\n$usage"); 2
          case None =>
            try { dispatch(verb, flags, out, err); 0 }
            catch {
              case e: GraftException => err(e.getMessage); e.exitCode
              case scala.util.control.NonFatal(e) => err(e.toString); 1
            }
        }
    }
  }

  private def parseFlags(rest: Seq[String]): Either[String, Map[String, String]] = {
    @annotation.tailrec
    def loop(xs: Seq[String], acc: Map[String, String])
        : Either[String, Map[String, String]] = xs match {
      case Seq() => Right(acc)
      case Seq(flag, value, tail @ _*) if flag.startsWith("--") =>
        loop(tail, acc + (flag.stripPrefix("--") -> value))
      case Seq(flag) if flag.startsWith("--") =>
        Left(s"flag $flag is missing a value")
      case Seq(other, _*) => Left(s"expected a --flag, got '$other'")
    }
    loop(rest, Map.empty)
  }

  private def validate(verb: String, flags: Map[String, String]): Option[String] = {
    if (verb == "compact") {
      // maintenance verb: addresses a whole dataset, no file match
      return (if (!flags.contains("bucket-name"))
        Some("--bucket-name is required")
      else flags.get("target-file-size-mb")
        .filter(v => scala.util.Try(v.toLong).filter(_ > 0).isFailure)
        .map(v => s"--target-file-size-mb: '$v' is not a positive integer"))
    }
    val required = Seq("source-file-name", "source-file-name-match-type") ++
      (verb match {
        case "move" => Seq("source-bucket-name", "destination-bucket-name")
        case _ => Seq("bucket-name")
      })
    required.find(!flags.contains(_)).map(f => s"--$f is required")
      .orElse(flags("source-file-name-match-type") match {
        case "exact_match" | "regex_match" => None
        case other => Some(
          s"--source-file-name-match-type: invalid choice '$other' " +
            "(choose from exact_match, regex_match)")
      })
  }

  /** Bare bucket names address S3 (`b` → `s3a://b`); URIs pass through. */
  private[cli] def bucketUri(name: String): String =
    if (name.contains("://") || name.startsWith("file:")) name.stripSuffix("/")
    else s"s3a://$name"

  private def withFolder(root: String, folder: String): String = {
    val f = PathUtil.cleanFolderName(folder)
    if (f.isEmpty) root else s"$root/$f"
  }

  /** Local folder as a `file:` URI, created on demand like the
    * reference's `os.makedirs` (download_file.py:263-265); empty means
    * the working directory.
    */
  private def localDir(folder: String): String = {
    val f = new java.io.File(if (folder.isEmpty) "." else folder)
    s"file:${f.getAbsolutePath}"
  }

  private def dispatch(
      verb: String,
      flags: Map[String, String],
      out: String => Unit,
      err: String => Unit): Unit = {
    // Not LocalSession: perfbench calls this in its own session, whose SQL confs .config would overwrite.
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[2]"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    applyConfig(spark, flags, err)
    val io = new DatasetIO(spark)

    if (verb == "compact") {
      // maintenance verb over the manifest-committed protocol: safe on
      // every scheme (no data rename; crash leaves one whole generation)
      val target = withFolder(bucketUri(flags("bucket-name")),
        flags.getOrElse("source-folder-name", ""))
      val mb = flags.getOrElse("target-file-size-mb", "128").toLong
      val (before, after) = io.compactCommitted(
        target, targetBytesPerFile = mb * 1024 * 1024,
        retainPrevious = flags.get("retain-previous").contains("true"))
      out(s"$target successfully compacted: $before files -> $after files")
      return
    }

    val pattern = flags("source-file-name")
    val mode =
      if (flags("source-file-name-match-type") == "exact_match") MatchMode.Exact
      else MatchMode.Regex
    val srcFolder = flags.getOrElse("source-folder-name", "")
    val dstFolder = flags.getOrElse("destination-folder-name", "")
    val destName = flags.get("destination-file-name")

    verb match {
      case "download" =>
        val pairs = io.copy(
          withFolder(bucketUri(flags("bucket-name")), srcFolder),
          pattern, mode, localDir(dstFolder), destName, recursive = true)
        pairs.foreach { case (s, d) => out(s"$s successfully downloaded to $d") }
      case "upload" =>
        val pairs = io.copy(
          localDir(srcFolder), pattern, mode,
          withFolder(bucketUri(flags("bucket-name")), dstFolder), destName,
          recursive = true)
        pairs.foreach { case (s, d) => out(s"$s successfully uploaded to $d") }
      case "move" =>
        val pairs = io.move(
          withFolder(bucketUri(flags("source-bucket-name")), srcFolder),
          pattern, mode,
          withFolder(bucketUri(flags("destination-bucket-name")), dstFolder),
          destName, recursive = true)
        pairs.foreach { case (s, d) => out(s"$s successfully moved to $d") }
      case "remove" =>
        val removed = io.remove(
          withFolder(bucketUri(flags("bucket-name")), srcFolder),
          pattern, mode, recursive = true)
        removed.foreach(p => out(s"$p successfully removed"))
    }
  }

  /** Credentials: flag > environment (the reference's
    * `set_environment_variables` override, download_file.py:58-71).
    * `--s3-config` takes extra `fs.s3a.*` key=value pairs (the botocore
    * `Config` analog); upload's `--extra-args` accepts the reference's
    * dict-literal syntax for the object-write settings it recognizes
    * (upload_file.py:231: ACL, ServerSideEncryption, SSEKMSKeyId).
    */
  private def applyConfig(
      spark: SparkSession,
      flags: Map[String, String],
      err: String => Unit): Unit = {
    val extra = flags.get("extra-args").map(parseExtraArgs).getOrElse(Map.empty)
    // The reference forwards ANY dict key verbatim to boto3
    // (upload_file.py:205-214,231); this engine maps the three
    // object-write settings S3A supports and must not silently drop
    // the rest — an ignored `Metadata` or `ContentType` is data loss
    // from the caller's point of view, so say so.
    val supported = Set("ACL", "ServerSideEncryption", "SSEKMSKeyId")
    (extra.keySet -- supported).toSeq.sorted.foreach { k =>
      err(s"warning: --extra-args key '$k' is not supported and was " +
        "ignored (supported: ACL, ServerSideEncryption, SSEKMSKeyId)")
    }
    val env = S3Config.fromEnv()
    S3Config.apply(spark, env.copy(
      accessKeyId = flags.get("aws-access-key-id").orElse(env.accessKeyId),
      secretAccessKey =
        flags.get("aws-secret-access-key").orElse(env.secretAccessKey),
      region = flags.get("aws-default-region").orElse(env.region),
      sseAlgorithm = extra.get("ServerSideEncryption"),
      sseKey = extra.get("SSEKMSKeyId"),
      cannedAcl = extra.get("ACL")))
    flags.get("s3-config").foreach { conf =>
      conf.split(',').filter(_.nonEmpty).foreach { kv =>
        kv.split("=", 2) match {
          case Array(k, v) =>
            spark.sparkContext.hadoopConfiguration.set(k.trim, v.trim)
          case _ =>
            throw new IllegalArgumentException(
              s"--s3-config entries must be key=value, got '$kv'")
        }
      }
    }
  }

  /** Parse `--extra-args` STRICTLY as a flat string→string dict — the
    * reference `literal_eval`s the argument (upload_file.py:231), so a
    * malformed dict is an error there, never a silent partial parse.
    * Both the reference's Python-literal quoting
    * (`{'ACL': 'public-read'}`) and strict-JSON quoting
    * (`{"ACL": "public-read"}`) are accepted; anything else —
    * unquoted tokens, missing colons, nested values, trailing garbage —
    * throws, matching the reference's ValueError behavior rather than
    * the previous regex scrape that skipped what it didn't recognize.
    */
  private[cli] def parseExtraArgs(s: String): Map[String, String] = {
    def fail(msg: String): Nothing = throw new IllegalArgumentException(
      s"--extra-args must be a flat {'Key': 'value'} or " +
        s"""{"Key": "value"} dict: $msg in '$s'""")
    val t = s.trim
    if (!t.startsWith("{") || !t.endsWith("}")) fail("not a dict literal")
    val body = t.substring(1, t.length - 1)
    val n = body.length
    var i = 0
    val out = Map.newBuilder[String, String]
    def skipWs(): Unit = while (i < n && body(i).isWhitespace) i += 1
    def parseString(what: String): String = {
      skipWs()
      if (i >= n || (body(i) != '\'' && body(i) != '"'))
        fail(s"expected quoted $what at offset ${i + 1}")
      val q = body(i)
      i += 1
      val sb = new StringBuilder
      while (i < n && body(i) != q) {
        if (body(i) == '\\' && i + 1 < n) { sb.append(body(i + 1)); i += 2 }
        else { sb.append(body(i)); i += 1 }
      }
      if (i >= n) fail(s"unterminated $what string")
      i += 1 // closing quote
      sb.result()
    }
    skipWs()
    while (i < n) {
      val k = parseString("key")
      skipWs()
      if (i >= n || body(i) != ':') fail(s"expected ':' after key '$k'")
      i += 1
      out += (k -> parseString("value"))
      skipWs()
      if (i < n) {
        if (body(i) != ',') fail(s"expected ',' at offset ${i + 1}")
        i += 1
        skipWs() // trailing comma (valid in a Python literal) ends the dict
      }
    }
    out.result()
  }
}
