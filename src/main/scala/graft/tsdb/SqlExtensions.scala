package graft.tsdb

/** Hand-rolled pre-parser for the four statement extensions the reference's
  * custom dialect intercepts (/root/reference/crates/modelardb_storage/src/parser.rs:686-708);
  * everything else passes through to Spark SQL — the same strategy the
  * reference uses with sqlparser-rs/DataFusion.
  *
  * Grammar (parser.rs:95-160, 224-312, 452-634):
  * {{{
  *   CREATE TIME SERIES TABLE name(
  *     ts TIMESTAMP, f FIELD [ "(" bound["%"] ")" ] | f FIELD AS (expr), t TAG, ...)
  *   DROP TABLE t [, t]*
  *   TRUNCATE [CLUSTER] t [, t]*
  *   VACUUM [CLUSTER] [t [, t]*] [RETAIN n]
  *   INCLUDE 'folder' [, 'folder']* SELECT ...
  * }}}
  */
object SqlExtensions {
  sealed trait Statement
  final case class CreateTimeSeriesTable(meta: TableMetadata) extends Statement
  final case class CreateNormalTable(name: String, schemaDdl: String) extends Statement
  final case class CreateTableAsSelect(name: String, select: String) extends Statement
  final case class DropTables(names: Seq[String]) extends Statement
  final case class TruncateTables(names: Seq[String]) extends Statement
  final case class Vacuum(names: Seq[String], retentionSeconds: Long) extends Statement
  final case class Optimize(names: Seq[String], targetBytes: Long,
      zorder: Boolean) extends Statement
  final case class Include(folders: Seq[String], select: String,
      merge: Boolean = false) extends Statement
  /** A `GRAFT SEGMENT PROBE <base64>` rank-search round (see
    * [[RankProbe]]); carries the raw text — the payload decodes lazily
    * in the handler.
    */
  final case class SegmentProbe(sqlText: String) extends Statement
  final case class InsertInto(
      table: String, columns: Seq[String], sourceSql: String) extends Statement
  case object Passthrough extends Statement

  private val CreateTst =
    """(?is)^\s*CREATE\s+TIME\s+SERIES\s+TABLE\s+([A-Za-z_][A-Za-z0-9_]*)\s*\((.*)\)\s*$""".r
  private val CreateNormal =
    """(?is)^\s*CREATE\s+TABLE\s+([A-Za-z_][A-Za-z0-9_]*)\s*\((.*)\)\s*$""".r
  private val CreateAsSelect =
    """(?is)^\s*CREATE\s+TABLE\s+([A-Za-z_][A-Za-z0-9_]*)\s+AS\s+(SELECT\b.*)$""".r
  private val DropRe =
    """(?is)^\s*DROP\s+TABLE\s+(.+?)\s*$""".r
  private val TruncateRe =
    """(?is)^\s*TRUNCATE\s+(?:CLUSTER\s+)?(?:TABLE\s+)?(.+?)\s*$""".r
  private val VacuumRe =
    """(?is)^\s*VACUUM(?:\s+CLUSTER)?(?:\s+(?!RETAIN\b)([A-Za-z_][A-Za-z0-9_,\s]*?))?(?:\s+RETAIN\s+(\d+))?\s*$""".r
  // OPTIMIZE t [, t]* [ZORDER] [TARGET bytes] — beyond the reference
  // grammar: small-file compaction for the table layer, and with ZORDER a
  // tag-range re-clustering (Spark SQL has no OPTIMIZE, so the pre-parser
  // can claim the keyword safely).
  private val OptimizeRe =
    """(?is)^\s*OPTIMIZE(?:\s+(?!TARGET\b|ZORDER\b)([A-Za-z_][A-Za-z0-9_,\s]*?))?(?:\s+(ZORDER)\b)?(?:\s+TARGET\s+(\d+))?\s*$""".r
  // INCLUDE MERGE — beyond the reference grammar: instead of row-unioning
  // each endpoint's result, decompose an aggregate SELECT into algebraic
  // partials, push the partial query to every endpoint, and merge locally
  // (see [[graft.tsdb.FederatedAggregate]]).
  private val IncludeRe =
    """(?is)^\s*INCLUDE\s+(MERGE\s+)?((?:'[^']*'\s*,?\s*)+)(SELECT\b.*)$""".r
  private val InsertRe =
    """(?is)^\s*INSERT\s+INTO\s+([A-Za-z_][A-Za-z0-9_]*)\s*(?:\(\s*([A-Za-z_][A-Za-z0-9_]*(?:\s*,\s*[A-Za-z_][A-Za-z0-9_]*)*)\s*\)\s*)?((?:SELECT|VALUES)\b.*)$""".r

  def parse(sqlText: String): Statement = sqlText match {
    case t if RankProbe.matches(t) => SegmentProbe(t)
    case CreateTst(name, cols) =>
      CreateTimeSeriesTable(parseTimeSeriesColumns(name, cols))
    case CreateNormal(name, cols) => CreateNormalTable(name, cols)
    case CreateAsSelect(name, select) => CreateTableAsSelect(name, select)
    case IncludeRe(mergeKw, folders, select) =>
      val paths = "'([^']*)'".r.findAllMatchIn(folders).map(_.group(1)).toSeq
      Include(paths, select, merge = mergeKw != null)
    case InsertRe(tableName, columnList, source) =>
      InsertInto(tableName,
        Option(columnList).map(splitNames).getOrElse(Seq.empty), source)
    case DropRe(names) => DropTables(splitNames(names))
    case TruncateRe(names) => TruncateTables(splitNames(names))
    case VacuumRe(names, retain) =>
      Vacuum(
        Option(names).map(splitNames).getOrElse(Seq.empty),
        Option(retain).map(_.toLong).getOrElse(604800L))
    case OptimizeRe(names, zorder, target) =>
      Optimize(
        Option(names).map(splitNames).getOrElse(Seq.empty),
        Option(target).map(_.toLong).getOrElse(128L * 1024 * 1024),
        zorder != null)
    case _ => Passthrough
  }

  private def splitNames(names: String): Seq[String] =
    names.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  // `FROM t VERSION AS OF n` / `FROM t TIMESTAMP AS OF '...'` /
  // `FROM t CHANGES FROM a TO b` (CDC) — Delta-style time travel and
  // change reads over the manifest's version history. A pre-parser textual
  // rewrite like the statements above: each occurrence is replaced by a
  // snapshot temp-view name and the (table, travel) pair is reported so the
  // engine can bind that view to the matching snapshot read before
  // delegating to Spark SQL. Table aliases after the clause survive
  // untouched (`t VERSION AS OF 3 AS old` rewrites to `t__version_3 AS old`).
  sealed trait Travel
  final case class AtVersion(version: Long) extends Travel
  final case class AtTimestamp(epochMs: Long) extends Travel
  final case class AtChanges(fromVersion: Long, toVersion: Long) extends Travel

  private val VersionAsOfRe =
    """(?is)\b([A-Za-z_][A-Za-z0-9_]*)\s+VERSION\s+AS\s+OF\s+(\d+)\b""".r
  private val TimestampAsOfRe =
    """(?is)\b([A-Za-z_][A-Za-z0-9_]*)\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)'""".r
  private val ChangesRe =
    """(?is)\b([A-Za-z_][A-Za-z0-9_]*)\s+CHANGES\s+FROM\s+(\d+)\s+TO\s+(\d+)\b""".r

  /** Name of the temp view a time-travel rewrite binds a snapshot to. */
  def travelViewName(table: String, travel: Travel): String = travel match {
    case AtVersion(v) => s"${table}__version_$v"
    case AtTimestamp(ms) => s"${table}__asof_$ms"
    case AtChanges(a, b) => s"${table}__changes_${a}_$b"
  }

  /** Parse a TIMESTAMP AS OF literal: ISO instant (trailing Z/offset),
    * `yyyy-MM-dd[ HH:mm:ss[.SSS]]` read as UTC (the engine's session
    * timezone), or raw epoch milliseconds (12-13 digits). Shorter bare
    * numbers are REJECTED as ambiguous: a compact date like '20240101'
    * read as epoch millis would silently resolve to 1970-08-23.
    */
  def parseTravelTimestamp(literal: String): Long = {
    val t = literal.trim
    if (t.matches("\\d+")) {
      require(t.length == 12 || t.length == 13,
        s"Ambiguous bare number '$t' in TIMESTAMP AS OF: expected epoch " +
          "milliseconds (12-13 digits) or an ISO date/time like " +
          "'2024-01-01 00:00:00'.")
      t.toLong
    }
    else scala.util.Try(java.time.Instant.parse(t).toEpochMilli).getOrElse {
      val normalized = t.replace(' ', 'T')
      val local = scala.util.Try(java.time.LocalDateTime.parse(normalized))
        .getOrElse(java.time.LocalDate.parse(t).atStartOfDay())
      local.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    }
  }

  /** Rewrite every `t VERSION AS OF n` / `t TIMESTAMP AS OF '...'` to its
    * snapshot view name; returns the rewritten SQL plus the distinct
    * (table, travel) pairs to bind.
    *
    * Like the other pre-parser rewrites this is textual, with two guarded
    * limitations: matches inside quoted text or comments are left
    * untouched (a literal or comment containing the words "VERSION AS OF"
    * is not syntax), and qualified names (`db.tbl VERSION AS OF n`) raise a
    * clear unsupported error instead of mangling the name — the engine
    * binds snapshot views by unqualified table name only.
    */
  def rewriteTimeTravel(sql: String): (String, Seq[(String, Travel)]) = {
    val targets = scala.collection.mutable.LinkedHashSet[(String, Travel)]()
    def pass(input: String, re: scala.util.matching.Regex,
             travelOf: scala.util.matching.Regex.Match => Travel): String = {
      val depths = FederatedAggregate.codeDepths(input)
      re.replaceSomeIn(input, m => {
        if (depths(m.start) < 0) None
        else if (m.start > 0 && input.charAt(m.start - 1) == '.')
          throw new IllegalArgumentException(
            s"Time travel on qualified names is not supported: " +
              s"'${m.matched.takeWhile(_ != '\n')}'. Use the unqualified " +
              "table name registered with this engine.")
        else {
          val target = (m.group(1), travelOf(m))
          targets += target
          Some(scala.util.matching.Regex.quoteReplacement(
            (travelViewName _).tupled(target)))
        }
      })
    }
    val afterVersions =
      pass(sql, VersionAsOfRe, m => AtVersion(m.group(2).toLong))
    val afterTimestamps = pass(afterVersions, TimestampAsOfRe,
      m => AtTimestamp(parseTravelTimestamp(m.group(2))))
    // `t CHANGES FROM a TO b` — CDC rows of commits (a, b] with their
    // `_commit_version`, the SQL face of Engine.readTableChanges.
    val rewritten = pass(afterTimestamps, ChangesRe,
      m => AtChanges(m.group(2).toLong, m.group(3).toLong))
    (rewritten, targets.toSeq)
  }

  /** Split a column list on top-level commas (parens may nest in AS exprs). */
  private def splitTopLevel(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var depth = 0
    val current = new StringBuilder
    s.foreach {
      case '(' => depth += 1; current += '('
      case ')' => depth -= 1; current += ')'
      case ',' if depth == 0 => out += current.toString; current.clear()
      case c => current += c
    }
    if (current.nonEmpty) out += current.toString
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  private val FieldWithBound =
    """(?is)^([A-Za-z_][A-Za-z0-9_]*)\s+FIELD\s*\(\s*([0-9.eE+-]+)\s*(%?)\s*\)$""".r
  private val FieldGenerated =
    """(?is)^([A-Za-z_][A-Za-z0-9_]*)\s+FIELD\s+AS\s*\((.*)\)$""".r
  private val FieldPlain = """(?is)^([A-Za-z_][A-Za-z0-9_]*)\s+FIELD$""".r
  private val TimestampCol = """(?is)^([A-Za-z_][A-Za-z0-9_]*)\s+TIMESTAMP$""".r
  private val TagCol = """(?is)^([A-Za-z_][A-Za-z0-9_]*)\s+TAG$""".r

  private def parseTimeSeriesColumns(name: String, colsText: String): TableMetadata = {
    val columns = splitTopLevel(colsText).map {
      case TimestampCol(n) => ColumnSpec(n, "timestamp")
      case FieldWithBound(n, bound, pct) =>
        ColumnSpec(n, "field", errorBound = bound + pct)
      case FieldGenerated(n, genExpr) =>
        ColumnSpec(n, "generated", generatedExpr = genExpr.trim)
      case FieldPlain(n) => ColumnSpec(n, "field")
      case TagCol(n) => ColumnSpec(n, "tag")
      case other => throw new IllegalArgumentException(
        s"Cannot parse time series column definition: '$other'")
    }
    TableMetadata(name, "time_series", columns).validate()
  }
}
