package graft.sources

/** Pure path semantics of the reference blueprints, re-expressed for
  * URI-style dataset paths.
  *
  * Behavior contract (studied from the reference, not copied):
  *  - clean: strip leading/trailing '/', collapse duplicate separators
  *    (reference `clean_folder_name`, download_file.py:136-143).
  *  - combine: join folder and file with exactly one '/', folder may be
  *    empty (reference `combine_folder_and_file_name`,
  *    download_file.py:145-153).
  *  - enumerate: on multi-match, the n-th destination gets `_n` spliced
  *    in at the FIRST dot, or appended when the name has no dot
  *    (reference `enumerate_destination_file_name`,
  *    download_file.py:101-113).
  *  - destination resolution: explicit destination name wins (enumerated
  *    when part of a multi-match); otherwise the source's base name
  *    (reference `determine_destination_file_name`,
  *    download_file.py:116-133).
  */
object PathUtil {

  /** Strip leading/trailing separators and collapse runs of '/'.
    * Unlike `os.path.normpath` this never interprets `..` — dataset
    * names are opaque keys, not local filesystem paths.
    */
  def cleanFolderName(folder: String): String = {
    val stripped = folder.replaceAll("/{2,}", "/").stripPrefix("/").stripSuffix("/")
    stripped
  }

  /** Join folder and file with one separator; empty folder yields just
    * the (cleaned) file name.
    */
  def combine(folder: String, file: String): String = {
    val f = cleanFolderName(folder)
    val name = file.replaceAll("/{2,}", "/").stripPrefix("/")
    if (f.isEmpty) name else s"$f/$name"
  }

  /** File base name of a full path (the part after the last '/'). */
  def baseName(path: String): String = {
    val idx = path.lastIndexOf('/')
    if (idx < 0) path else path.substring(idx + 1)
  }

  /** Splice `_n` before the first '.' of the name, or append `_n` when
    * the name has no extension: `data.csv` -> `data_2.csv`,
    * `data` -> `data_2`.
    */
  def enumerate(fileName: String, n: Int): String = {
    val idx = fileName.indexOf('.')
    if (idx < 0) s"${fileName}_$n"
    else fileName.substring(0, idx) + s"_$n." + fileName.substring(idx + 1)
  }

  /** Resolve the destination name for the i-th (1-based) of `total`
    * matches: an explicit destination is enumerated on multi-match so
    * successive files do not overwrite each other; a missing destination
    * falls back to the source base name.
    */
  def destinationName(
      sourcePath: String,
      explicitDest: Option[String],
      fileNumber: Option[Int]): String =
    explicitDest match {
      case Some(dest) => fileNumber.fold(dest)(n => enumerate(dest, n))
      case None => baseName(sourcePath)
    }

  /** Translate a shell-style glob to an anchored regex over '/'-
    * separated relative paths: `*` and `?` stay within one path
    * segment, `**` crosses segments, and a leading-or-mid `**&#47;`
    * also matches zero directories (so `**&#47;*.csv` matches both
    * `a.csv` and `sub/a.csv`) — the semantics of the reference
    * upload's recursive two-star `{folder}` walk (upload_file.py:174-182).
    */
  def globToRegex(glob: String): String = {
    val sb = new StringBuilder("^")
    var i = 0
    while (i < glob.length) {
      glob.charAt(i) match {
        case '*' if glob.startsWith("**/", i) =>
          sb.append("(?:.*/)?"); i += 2
        case '*' if glob.startsWith("**", i) =>
          sb.append(".*"); i += 1
        case '*' => sb.append("[^/]*")
        case '?' => sb.append("[^/]")
        case c if "\\.[]{}()+-^$|".indexOf(c) >= 0 =>
          sb.append('\\').append(c)
        case c => sb.append(c)
      }
      i += 1
    }
    sb.append("$").toString
  }
}
