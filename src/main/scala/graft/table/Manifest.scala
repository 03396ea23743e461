package graft.table

import java.net.{URLDecoder, URLEncoder}

/** The manifest line format, in one place. A manifest file is a list of
  * lines; a line is a [[ManifestLine]], and the lines that describe a
  * live data file carry a [[ManifestEntry]]:
  *
  * {{{
  *   entry  := path [TAB rows [TAB stats]] (TAB tag)*
  *   stats  := "" | column (',' column)*        column := n:k:lo:hi[:nc]
  *   tag    := sh:<hash> | dv:<sidecar>:<n> | bl:<column>:<sidecar>
  *   line   := "# " header | "@ " dir TAB m-file
  *           | "+ " entry | "- " path | "~ " entry | entry
  * }}}
  *
  * Column names, bounds and directory names are URL-encoded, so `:`,
  * `,` and TAB never occur inside a field. A tag is told apart from a
  * stats field by its shape: `sh:` has two colon parts, `dv:` and `bl:`
  * three, and every stats column at least four. That is what lets an
  * old `path` or `path\trows` entry gain a tag in the stats slot and
  * still read back. Rendering a parsed line gives back its bytes.
  */
final case class ManifestEntry(
    path: String,
    rows: Option[Long] = None,
    stats: Option[Seq[ColumnStats]] = None,
    tags: Seq[EntryTag] = Nil
) {
  import EntryTag._
  require(stats.isEmpty || rows.isDefined, s"manifest entry $path has stats without rows")

  def dir: String = ManifestEntry.dirOf(path)

  /** Value bounds per column: (kind, min, max). All-null columns have none. */
  lazy val bounds: Map[String, (Char, String, String)] =
    stats.getOrElse(Nil).collect {
      case c if c.kind != ColumnStats.AllNull => c.column -> ((c.kind, c.min, c.max))
    }.toMap

  /** Null counts per column; a column missing here has an unknown count. */
  lazy val nullCounts: Map[String, Long] =
    stats.getOrElse(Nil).flatMap(c => c.nullCount.map(c.column -> _)).toMap

  def schemaHash: Option[String] = tags.collectFirst { case SchemaHash(h) => h }

  /** The delete vector: (sidecar, deleted row count). */
  def dv: Option[(String, Long)] = tags.collectFirst { case DeleteVector(s, n) => (s, n) }

  /** Bloom sidecar per indexed column. */
  def blooms: Map[String, String] = tags.collect { case Bloom(c, s) => c -> s }.toMap

  /** Rows left after the delete vector; None when the entry has no row count. */
  def liveRows: Option[Long] = rows.map(_ - dv.fold(0L)(_._2))

  /** Tags are kept in the order they were added (the order is part of
    * the rendered bytes); replacing one moves it to the end.
    */
  def withDv(sidecar: String, deleted: Long): ManifestEntry =
    copy(tags = tags.filterNot(_.isInstanceOf[DeleteVector]) :+ DeleteVector(sidecar, deleted))

  def withBloom(column: String, sidecar: String): ManifestEntry =
    copy(tags = tags.filterNot {
      case Bloom(c, _) => c == column
      case _ => false
    } :+ Bloom(column, sidecar))

  def render: String = {
    val sb = new StringBuilder(path)
    rows.foreach(r => sb.append('\t').append(r))
    stats.foreach(s => sb.append('\t').append(s.map(_.render).mkString(",")))
    tags.foreach(t => sb.append('\t').append(t.render))
    sb.toString
  }
}

object ManifestEntry {

  def dirOf(path: String): String = {
    val i = path.lastIndexOf('/')
    if (i < 0) "" else path.substring(0, i)
  }

  def parse(line: String): ManifestEntry = {
    val f = line.split("\t", -1)
    // legacy entries have no rows, or rows and no stats; a tag may sit
    // in either slot
    val rows =
      if (f.length > 1 && f(1).nonEmpty && f(1).forall(_.isDigit)) Some(f(1).toLong) else None
    val stats =
      if (rows.isEmpty || f.length < 3 || EntryTag.parse(f(2)).isDefined) None
      else Some(ColumnStats.parseAll(f(2)))
    val tags = f.iterator.drop(1 + rows.size + stats.size).map(t => EntryTag.parse(t).getOrElse(
      throw new IllegalArgumentException(s"malformed manifest entry field '$t' in: $line"))).toSeq
    ManifestEntry(f(0), rows, stats, tags)
  }
}

/** One column's zone-map token. `kind` is `l` (integral), `d`
  * (floating), `s` (string) or `z` (every value null: no bounds, only
  * the null count). `nullCount` is None when some row group lacked it.
  */
final case class ColumnStats(
    column: String,
    kind: Char,
    min: String,
    max: String,
    nullCount: Option[Long]
) {
  def render: String = {
    val base = s"${ColumnStats.enc(column)}:$kind:${ColumnStats.enc(min)}:${ColumnStats.enc(max)}"
    nullCount.fold(base)(n => s"$base:$n")
  }
}

object ColumnStats {
  val AllNull = 'z'

  def allNull(column: String, nullCount: Long): ColumnStats =
    ColumnStats(column, AllNull, "", "", Some(nullCount))

  private[table] def enc(s: String): String = URLEncoder.encode(s, "UTF-8")
  private[table] def dec(s: String): String = URLDecoder.decode(s, "UTF-8")

  def parseAll(field: String): Seq[ColumnStats] =
    if (field.isEmpty) Nil else field.split(',').toSeq.map(parse)

  def parse(token: String): ColumnStats = token.split(":", -1) match {
    case Array(n, k, lo, hi) if k.length == 1 => ColumnStats(dec(n), k.head, dec(lo), dec(hi), None)
    case Array(n, k, lo, hi, nc) if k.length == 1 && nc.nonEmpty && nc.forall(_.isDigit) =>
      ColumnStats(dec(n), k.head, dec(lo), dec(hi), Some(nc.toLong))
    case _ => throw new IllegalArgumentException(s"malformed zone-map token '$token'")
  }
}

/** A tag field of an entry. */
sealed trait EntryTag { def render: String }

object EntryTag {
  /** The file's own parquet schema fingerprint. */
  final case class SchemaHash(hash: String) extends EntryTag {
    def render: String = s"sh:$hash"
  }

  /** A merge-on-read delete vector: the sidecar holding every deleted
    * position of this file, and how many there are.
    */
  final case class DeleteVector(sidecar: String, deleted: Long) extends EntryTag {
    def render: String = s"dv:$sidecar:$deleted"
  }

  /** A bloom filter over `column`, stored in `sidecar`. */
  final case class Bloom(column: String, sidecar: String) extends EntryTag {
    def render: String = s"bl:${ColumnStats.enc(column)}:$sidecar"
  }

  /** The tag `field` encodes, or None when it is not a tag. */
  def parse(field: String): Option[EntryTag] = field.split(":", -1) match {
    case Array("sh", h) if !h.contains(',') => Some(SchemaHash(h))
    case Array("dv", s, n) if n.nonEmpty && n.forall(_.isDigit) && !s.contains(',') =>
      Some(DeleteVector(s, n.toLong))
    case Array("bl", c, s) if !s.contains(',') => Some(Bloom(ColumnStats.dec(c), s))
    case _ => None
  }
}

/** One line of a manifest file: checkpoints (`gen-N`) hold headers, dir
  * refs and their own commit's delta; deltas (`inc-N`) hold headers and
  * delta lines; per-dir manifests (`m-*`) and legacy flat checkpoints
  * hold bare entries.
  */
sealed trait ManifestLine { def render: String }

object ManifestLine {

  /** `# <text>`: commit metadata. */
  final case class Header(text: String) extends ManifestLine {
    def render: String = s"# $text"
    def schemaHash: Option[String] = valueOf("schema ")
    def tag: Option[String] = valueOf("tag ")

    /** A transaction high-water mark: (scope, id). */
    def txn: Option[(String, Long)] = valueOf("txn ").flatMap(_.split(' ') match {
      case Array(scope, id) if id.forall(c => c.isDigit || c == '-') =>
        id.toLongOption.map(scope -> _)
      case _ => None
    })

    private def valueOf(key: String): Option[String] =
      if (text.startsWith(key)) Some(text.substring(key.length)) else None
  }

  object Header {
    def schema(hash: String): Header = Header(s"schema $hash")
    def tag(t: String): Header = Header(s"tag $t")
    def txn(scope: String, id: Long): Header = Header(s"txn $scope $id")

    /** Marks a checkpoint written from a full relisting: it has no delta. */
    val Rebuild: Header = Header("rebuild")
  }

  /** `@ <dir>\t<m-file>`: a checkpoint's reference to a per-dir manifest. */
  final case class DirRef(dir: String, file: String) extends ManifestLine {
    def render: String = s"@ ${ColumnStats.enc(dir)}\t$file"
  }

  final case class Add(entry: ManifestEntry) extends ManifestLine {
    def render: String = s"+ ${entry.render}"
  }

  final case class Remove(path: String) extends ManifestLine {
    def render: String = s"- $path"
  }

  /** An entry changed in place (a delete-vector or bloom tag landed). */
  final case class Modify(entry: ManifestEntry) extends ManifestLine {
    def render: String = s"~ ${entry.render}"
  }

  /** A bare entry: a per-dir manifest's line, or a legacy flat checkpoint's. */
  final case class Bare(entry: ManifestEntry) extends ManifestLine {
    def render: String = entry.render
  }

  def parse(line: String): ManifestLine =
    if (line.length < 2 || line.charAt(1) != ' ') Bare(ManifestEntry.parse(line))
    else line.charAt(0) match {
      case '#' => Header(line.substring(2))
      case '@' =>
        val t = line.indexOf('\t')
        DirRef(ColumnStats.dec(line.substring(2, t)), line.substring(t + 1))
      case '+' => Add(ManifestEntry.parse(line.substring(2)))
      case '-' => Remove(line.substring(2))
      case '~' => Modify(ManifestEntry.parse(line.substring(2)))
      case _ => Bare(ManifestEntry.parse(line))
    }

  /** A checkpoint's dir refs; None for a LEGACY flat checkpoint (bare
    * entry lines). An empty table's new-format checkpoint has Some(Nil).
    */
  def dirRefs(lines: Seq[ManifestLine]): Option[Seq[DirRef]] =
    if (lines.exists(_.isInstanceOf[Bare])) None
    else Some(lines.collect { case r: DirRef => r })
}
