package graft.sources

import java.util.regex.{Pattern, PatternSyntaxException}

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

import graft.sources.GraftException.translatingAuth

/** How a pattern selects datasets — the reference's
  * `source_file_name_match_type` choice (download_file.py:14-19), plus
  * shell-style globs for the upload blueprint's recursive tree walk
  * (upload_file.py:174-182).
  */
sealed trait MatchMode
object MatchMode {
  case object Exact extends MatchMode
  case object Regex extends MatchMode
  case object Glob extends MatchMode
}

/** One catalog entry (an object/dataset under a prefix). `name` is the
  * entry's dir-RELATIVE path for recursive listings (e.g. `sub/a.csv`),
  * the plain base name for flat ones.
  */
final case class DatasetRef(
    path: String,
    name: String,
    sizeBytes: Long,
    isDirectory: Boolean)

/** Scalable dataset/object listing and selection.
  *
  * The Spark-native analog of the reference's paginated
  * `list_objects_v2` loop (`find_all_s3_file_names`,
  * download_file.py:167-216). Every listing is one walk,
  * [[DatasetCatalog.walk]], over `FileSystem.listStatusIterator`: each
  * directory streams its statuses page by page (on S3A each page is one
  * LIST call), so a prefix with millions of objects never materializes
  * fully on the driver — selection is applied lazily per page. [[list]]
  * is the walk at depth 1 and [[listRecursive]] the unbounded walk. This
  * also does not reproduce the reference's page-2 bug
  * (download_file.py:210, where the list is clobbered by `append`'s None
  * return on pagination).
  *
  * Regex selection uses find-anywhere (`re.search`) semantics to match
  * the reference's `find_all_file_matches` (download_file.py:219-228).
  * Auth failures from the underlying filesystem surface as the typed
  * exit-202 [[InvalidCredentialsException]]; a missing directory as the
  * exit-201 [[DatasetNotFoundException]].
  */
final class DatasetCatalog(spark: SparkSession) {

  private def entries(dir: String, maxDepth: Int): Iterator[DatasetRef] = {
    val p = new Path(dir)
    DatasetCatalog.walk(p.getFileSystem(spark.sessionState.newHadoopConf()),
      p, maxDepth).map { case (st, rel) =>
      DatasetRef(st.getPath.toString, rel, st.getLen, st.isDirectory)
    }
  }

  /** Stream the entries (files and directories) directly under `dir`. */
  def list(dir: String): Iterator[DatasetRef] = entries(dir, maxDepth = 1)

  /** Stream ALL files under `dir` recursively — the analog of the
    * reference upload's recursive two-star `{folder}` walk. Entry names
    * are dir-relative paths (`sub/inner/a.csv`).
    */
  def listRecursive(dir: String): Iterator[DatasetRef] =
    entries(dir, maxDepth = Int.MaxValue)

  /** Compile a user pattern, mapping syntax errors to the typed
    * invalid-regex failure (exit 203). Glob patterns are translated
    * to anchored regexes over '/'-separated relative paths first.
    */
  def compilePattern(pattern: String, mode: MatchMode = MatchMode.Regex): Pattern = {
    val regex = mode match {
      case MatchMode.Glob => PathUtil.globToRegex(pattern)
      case _ => pattern
    }
    try Pattern.compile(regex)
    catch {
      case e: PatternSyntaxException => throw InvalidPatternException(pattern, e)
    }
  }

  private def matcher(pattern: String, mode: MatchMode): String => Boolean =
    mode match {
      case MatchMode.Exact => _ == pattern
      case MatchMode.Regex =>
        val re = compilePattern(pattern, mode); s => re.matcher(s).find()
      case MatchMode.Glob =>
        val re = compilePattern(pattern, mode); s => re.matcher(s).matches()
    }

  /** Select datasets under `dir` by exact name, regex (find-anywhere)
    * or glob over entry names. Throws the typed not-found failure
    * (exit 201) when nothing matches, like the reference's empty-match
    * exit paths. Results are name-sorted so multi-match enumeration is
    * deterministic.
    */
  def select(dir: String, pattern: String, mode: MatchMode): Seq[DatasetRef] =
    selectIn(dir, pattern, mode, recursive = false)

  /** Select recursively: patterns match the dir-RELATIVE path of every
    * file in the tree, so `**&#47;*.csv`-style globs (or regexes over
    * subdirectories) express the reference upload's recursive
    * selection. Exit-201/203 semantics as [[select]].
    */
  def selectRecursive(
      dir: String,
      pattern: String,
      mode: MatchMode): Seq[DatasetRef] =
    selectIn(dir, pattern, mode, recursive = true)

  private[sources] def selectIn(
      dir: String,
      pattern: String,
      mode: MatchMode,
      recursive: Boolean): Seq[DatasetRef] = {
    val m = matcher(pattern, mode)
    val listed = if (recursive) listRecursive(dir) else list(dir)
    val matched = listed.filter(r => m(r.name)).toSeq
    if (matched.isEmpty) throw DatasetNotFoundException(dir, pattern)
    matched.sortBy(_.name)
  }
}

object DatasetCatalog {

  /** The one directory walk behind every recursive Hadoop listing: a
    * lazy depth-first descent over `FileSystem.listStatusIterator`,
    * yielding each entry with its `root`-relative path
    * (`sub/inner/a.csv`). Directories shallower than `maxDepth` are
    * descended and not yielded; entries at `maxDepth` are yielded
    * whatever their kind, so `maxDepth = 1` is the flat listing and the
    * unbounded walk yields files only.
    *
    * Each directory is one `listStatusIterator` stream, so on S3A the
    * walk sends one paged LIST per directory rather than one flat-prefix
    * stream (that request count is not measured against a real
    * endpoint). `listFiles` is deliberately not used: on `file:` its
    * `LocatedFileStatus` reads permissions, which forks `ls` once per
    * file when native Hadoop is not loaded.
    *
    * A missing `root` raises [[DatasetNotFoundException]] (exit 201);
    * auth failures anywhere in the walk raise
    * [[InvalidCredentialsException]] (exit 202).
    */
  private[graft] def walk(
      fs: FileSystem,
      root: Path,
      maxDepth: Int = Int.MaxValue): Iterator[(FileStatus, String)] = {
    val context = s"list $root"
    def auth[T](body: => T): T = translatingAuth(context)(body)
    if (!auth(fs.exists(root)))
      throw DatasetNotFoundException(root.toString, "<listing>")
    def level(dir: Path, prefix: String, depth: Int)
        : Iterator[(FileStatus, String)] = {
      val it = auth(fs.listStatusIterator(dir))
      Iterator.continually(()).takeWhile(_ => auth(it.hasNext))
        .map(_ => auth(it.next()))
        .flatMap { st =>
          val rel = prefix + st.getPath.getName
          if (st.isDirectory && depth < maxDepth)
            level(st.getPath, rel + "/", depth + 1)
          else Iterator.single(st -> rel)
        }
    }
    level(root, "", 1)
  }
}
