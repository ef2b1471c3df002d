package graft.loc

/** A physical location string possibly containing `{variable}` holes.
  *
  * Spark-native form of the reference's `LocWithVars` / `StringWithVars`
  * (porcupine-core/src/Data/Locations/Loc.hs:55-61,130-167) with splicing
  * per Loc.hs:183-198. Locations are URI strings handed to Spark readers
  * (file:/ s3a:/ hdfs:/ ... dispatch is Hadoop's job, reference
  * Accessors.hs:314-362).
  *
  * `options` carries per-location accessor settings — the reference's
  * JSON location-object form (porcupine-http HTTP.hs:58-153:
  * `{url, readMethod, writeMethod, timeout, ...}` is a first-class
  * location for any virtual file). Keys are accessor-specific (HTTP:
  * readMethod/writeMethod/timeoutSeconds/accept); empty for plain
  * path locations.
  */
final case class LocTemplate(raw: String,
                             options: Map[String, String] = Map.empty) {
  import LocTemplate.VarRe

  def variables: Seq[String] =
    VarRe.findAllMatchIn(raw).map(_.group(1)).toSeq.distinct

  def isFullySpliced: Boolean = variables.isEmpty

  /** True for http(s) locations — the one scheme served by a dedicated
    * accessor ([[graft.access.Http]]) instead of a Hadoop FS. */
  def isHttp: Boolean =
    raw.startsWith("http://") || raw.startsWith("https://")

  /** Substitute `{var}` holes; unknown vars are left in place (so a
    * later splice — e.g. a repetition index — can fill them). */
  def splice(vars: Map[String, String]): LocTemplate =
    copy(raw = VarRe.replaceAllIn(raw, m =>
      scala.util.matching.Regex.quoteReplacement(
        vars.getOrElse(m.group(1), m.matched))))

  /** Expand over an index set for one variable: the repetition path
    * pattern `.../User-{userId}.json` -> one concrete path per index
    * (reference REPI:102-131 + VirtualFile.hs:112-129). */
  def expand(varName: String, indices: Seq[String]): Seq[LocTemplate] =
    indices.map(i => splice(Map(varName -> i)))

  def extension: Option[String] = {
    // for URL locations the format extension precedes any query or
    // fragment part ("/u.json?page=2" is a json layer)
    val trimmed =
      if (isHttp) raw.takeWhile(c => c != '?' && c != '#') else raw
    val name = trimmed.substring(trimmed.lastIndexOf('/') + 1)
    val dot = name.lastIndexOf('.')
    if (dot <= 0) None else Some(name.substring(dot + 1))
  }

  /** The format-determining extension, skipping compression suffixes —
    * the reference's `<ext>zlib` wrapped serials (SerializationMethod
    * .hs:703-723): `doc.txt.gz` is a (compressed) txt layer. Spark /
    * Hadoop decompress these codecs transparently on read. */
  def dataExtension: Option[String] = extension match {
    case Some(c) if LocTemplate.CompressionExts(c) =>
      LocTemplate(raw.dropRight(c.length + 1)).extension
    case e => e
  }

  /** Spark writer codec implied by a compression suffix, if any. */
  def compressionCodec: Option[String] =
    extension.flatMap(LocTemplate.CodecNames.get)

  /** Append a default extension if the location has none
    * (PorcupineTree.hs:512-529). URL locations are left untouched —
    * appending ".json" would change the resource; their format comes
    * from the entry's defaultExt at read time. */
  def withDefaultExt(ext: String): LocTemplate =
    if (isHttp || extension.isDefined) this else copy(raw = s"$raw.$ext")

  def /(child: String): LocTemplate =
    copy(raw = if (raw.endsWith("/")) raw + child else s"$raw/$child")

  override def toString: String = raw
}

object LocTemplate {
  /** Scheme, authority and decoded path of a qualified path: one
    * spelling for a location string, a file URI Spark reports and a
    * checkpoint directory, whichever of `file:/x`, `file:///x` or a
    * percent-encoded form each arrived in. */
  def pathKey(p: org.apache.hadoop.fs.Path): String = {
    val u = p.toUri
    s"${u.getScheme}://${Option(u.getAuthority).getOrElse("")}${u.getPath}"
  }
  private val VarRe = """\{([A-Za-z0-9_]+)\}""".r
  /** Codecs Spark/Hadoop decompress transparently. */
  val CompressionExts: Set[String] = Set("gz", "deflate", "bz2", "zst", "lz4")
  /** compression suffix -> Spark writer codec name */
  val CodecNames: Map[String, String] = Map(
    "gz" -> "gzip", "deflate" -> "deflate", "bz2" -> "bzip2",
    "zst" -> "zstd", "lz4" -> "lz4")
}
