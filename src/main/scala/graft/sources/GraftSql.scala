package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** SQL surface for graft-table maintenance — the Delta SQL-command
  * analog (`OPTIMIZE` / `VACUUM` / `DESCRIBE HISTORY` / `DESCRIBE
  * DETAIL` / `RESTORE` / `ALTER TABLE ... ADD|DROP CONSTRAINT`,
  * reference pos-dlt runs on exactly this operational surface), so a
  * user can maintain stats tables from SQL without touching the Scala
  * API:
  *
  * {{{
  *   OPTIMIZE '/path/to/table'
  *   OPTIMIZE '/path/to/table' ZORDER BY (x, y)
  *   VACUUM '/path/to/table' [RETAIN 168 HOURS]
  *   DESCRIBE HISTORY '/path/to/table'
  *   DESCRIBE DETAIL '/path/to/table'
  *   RESTORE '/path/to/table' [TO] VERSION AS OF 3
  *   ALTER TABLE '/path/to/table' ADD CONSTRAINT nm CHECK (expr)
  *   ALTER TABLE '/path/to/table' DROP CONSTRAINT nm
  * }}}
  *
  * … and the ROW-LEVEL DML statements themselves (the reference's
  * gold notebook is pure SQL over exactly this surface — Delta's
  * `DELETE FROM` / `UPDATE` / `MERGE INTO` path forms):
  *
  * {{{
  *   DELETE FROM '/path' [WHERE cond]
  *   UPDATE '/path' SET a = expr, b = expr [WHERE cond]
  *   MERGE INTO '/path' [AS t] USING (<subquery>)|'<path>' [AS s]
  *     ON t.k = s.k [AND t.k2 = s.k2 ...]
  *     WHEN MATCHED [AND cond] THEN UPDATE SET a = expr, ... | SET * | DELETE
  *     WHEN NOT MATCHED [BY TARGET] [AND cond] THEN INSERT *
  *     WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET ... | DELETE
  * }}}
  *
  * MERGE grammar notes (same restrictions as the Scala
  * [[DataSkipping.mergeInto]] kernel they route to): the ON clause
  * is a conjunction of same-named key equalities (extra predicates
  * belong in `WHEN ... AND`); clause conditions and SET expressions
  * reference the target as `t.` and the source as `s.` — custom
  * aliases are accepted and rewritten to those names; `UPDATE SET *`
  * expands to every non-key source column; `INSERT *` inserts the
  * source row (the kernel's insert shape). Statement bodies are
  * split quote/paren-aware, so commas and keywords inside nested
  * expressions parse correctly.
  *
  * Tables are addressed by PATH literal (Delta's `delta.`/path``
  * shape) — the graft format has no catalog, so a path IS the table
  * identity, matching every other [[DataSkipping]] entry point.
  *
  * Wiring: [[GraftSqlParser]] is a delegating `ParserInterface` —
  * statements it recognizes become [[LeafRunnableCommand]] plans
  * (planned by Spark's own command machinery, visible in `EXPLAIN`),
  * everything else passes VERBATIM to the session's normal parser, so
  * injecting it changes nothing about standard SQL. Sessions built
  * with `graft.plans.GraftExtensions` (`spark.sql.extensions`) get it
  * automatically; [[GraftSql.sql]] runs the same grammar against ANY
  * session without extensions.
  *
  * This is the one place the engine uses a custom parser/plan-node
  * rung: maintenance statements are not expressible as operators or
  * expressions — SURVEY §3's escalation-ladder note records it.
  */
object GraftSql {

  /** A table reference: `'path'` (the Delta ``delta.`path` `` shape,
    * quotes kept in the capture) or a bare `[db.]name` identifier
    * that resolves through the SESSION CATALOG (see [[parse]]) — the
    * reference's notebooks address every table by NAME, so a port
    * must not require path-literal rewrites.
    */
  private val R = """(?:'[^']+'|[A-Za-z_][\w.]*)"""

  private val Optimize =
    s"""(?is)^\\s*OPTIMIZE\\s+($R)\\s*(?:WHERE\\s+(.+?))?\\s*(?:ZORDER\\s+BY\\s*\\(([^)]*)\\)|(INCREMENTAL))?\\s*;?\\s*$$""".r
  private val Vacuum =
    s"""(?is)^\\s*VACUUM\\s+($R)\\s*(?:RETAIN\\s+(\\d+)\\s+HOURS?)?\\s*(DRY\\s+RUN)?\\s*;?\\s*$$""".r
  private val History =
    s"""(?is)^\\s*DESC(?:RIBE)?\\s+HISTORY\\s+($R)\\s*;?\\s*$$""".r
  private val Detail =
    s"""(?is)^\\s*DESC(?:RIBE)?\\s+DETAIL\\s+($R)\\s*;?\\s*$$""".r
  private val Restore =
    s"""(?is)^\\s*RESTORE\\s+($R)\\s+(?:TO\\s+)?VERSION\\s+AS\\s+OF\\s+(\\d+)\\s*;?\\s*$$""".r
  private val RestoreTs =
    s"""(?is)^\\s*RESTORE\\s+($R)\\s+(?:TO\\s+)?TIMESTAMP\\s+AS\\s+OF\\s+'([^']+)'\\s*;?\\s*$$""".r
  private val ShowParts =
    s"""(?is)^\\s*SHOW\\s+PARTITIONS\\s+($R)\\s*;?\\s*$$""".r
  private val AddConstraint =
    s"""(?is)^\\s*ALTER\\s+TABLE\\s+($R)\\s+ADD\\s+CONSTRAINT\\s+(\\w+)\\s+CHECK\\s*\\((.*)\\)\\s*;?\\s*$$""".r
  private val DropConstraint =
    s"""(?is)^\\s*ALTER\\s+TABLE\\s+($R)\\s+DROP\\s+CONSTRAINT\\s+(\\w+)\\s*;?\\s*$$""".r
  private val RenameCol =
    s"""(?is)^\\s*ALTER\\s+TABLE\\s+($R)\\s+RENAME\\s+COLUMN\\s+(\\w+)\\s+TO\\s+(\\w+)\\s*;?\\s*$$""".r
  private val DropCol =
    s"""(?is)^\\s*ALTER\\s+TABLE\\s+($R)\\s+DROP\\s+COLUMN\\s+(\\w+)\\s*;?\\s*$$""".r
  private val Convert =
    s"""(?is)^\\s*CONVERT\\s+TO\\s+GRAFT\\s+($R)\\s+STATS\\s+BY\\s*\\(([^)]*)\\)(?:\\s+PARTITIONED\\s+BY\\s*\\(([^)]*)\\))?\\s*;?\\s*$$""".r
  private val Reorg =
    s"""(?is)^\\s*REORG\\s+TABLE\\s+($R)\\s+APPLY\\s*\\(\\s*PURGE\\s*\\)\\s*;?\\s*$$""".r
  private val Checkpoint =
    s"""(?is)^\\s*CHECKPOINT\\s+($R)\\s*;?\\s*$$""".r
  private val ShowIndexes =
    s"""(?is)^\\s*SHOW\\s+INDEXES\\s+($R)\\s*;?\\s*$$""".r
  /** A column reference in a corpus statement: bare identifier,
    * dotted (nested-field) path, or a backticked name (which may
    * hold dots/spaces — stripped by [[colName]]).
    */
  private val C = """(?:`[^`]+`|[A-Za-z_][\w.]*)"""
  private def colName(tok: String): String =
    if (tok.startsWith("`")) {
      val inner = tok.stripPrefix("`").stripSuffix("`")
      // keep the quoting when the NAME itself holds dots/spaces so a
      // downstream col(name) reads it literally, not as a nested path
      if (inner.matches("""\w+""")) inner else tok
    } else tok
  /** THRESHOLD/fraction literal — exactly one optional decimal point
    * (`1.2.3` must be a parse refusal, not a late NumberFormatException).
    */
  private val Num = """\d+(?:\.\d+)?"""
  private val DedupStmt =
    s"""(?is)^\\s*DEDUP\\s+($R)\\s+ON\\s*\\(\\s*($C)\\s*,\\s*($C)\\s*\\)\\s*(?:METHOD\\s+(EXACT|MINHASH))?\\s*(?:THRESHOLD\\s+($Num))?\\s*;?\\s*$$""".r
  private val ChunkStmt =
    s"""(?is)^\\s*CHUNK\\s+($R)\\s+ON\\s*\\(\\s*($C)\\s*,\\s*($C)\\s*\\)\\s*(?:SIZE\\s+(\\d+))?\\s*(?:OVERLAP\\s+(\\d+))?\\s*;?\\s*$$""".r
  private val SampleStmt =
    s"""(?is)^\\s*SAMPLE\\s+($R)\\s+ON\\s*\\(\\s*($C)\\s*,\\s*($C)\\s*\\)\\s+RATES\\s*\\(([^)]*)\\)\\s*(?:DEFAULT\\s+($Num))?\\s*;?\\s*$$""".r
  private val SplitStmt =
    s"""(?is)^\\s*SPLIT\\s+($R)\\s+ON\\s*\\(\\s*($C)\\s*\\)\\s+FRACTIONS\\s*\\(([^)]*)\\)\\s*(?:LEAKAGE\\s+SAFE\\s+USING\\s+($R)\\s+ON\\s*\\(\\s*($C)\\s*,\\s*($C)\\s*\\))?\\s*;?\\s*$$""".r
  private val ScoreStmt =
    s"""(?is)^\\s*SCORE\\s+($R)\\s+ON\\s*\\(\\s*($C)\\s*,\\s*($C)\\s*\\)\\s*;?\\s*$$""".r
  private val VectorSearchStmt =
    s"""(?is)^\\s*VECTOR\\s+SEARCH\\s+($R)\\s+USING\\s+($R)\\s+ON\\s*\\(\\s*($C)\\s*,\\s*($C)\\s*\\)\\s+TOP\\s+(\\d+)\\s*(?:PROBE\\s+(\\d+))?\\s*;?\\s*$$""".r
  // the CHECKPOINT operand is a stream-checkpoint DIRECTORY, not a
  // table — always a quoted path, never a catalog name
  private val CreateIncView =
    s"""(?is)^\\s*CREATE\\s+INCREMENTAL\\s+VIEW\\s+($R)\\s+AS\\s+(SUM|MINMAX|MOMENTS)\\s*\\(\\s*($C)\\s*\\)\\s+OF\\s+($R)\\s+GROUP\\s+BY\\s+($C)\\s+CHECKPOINT\\s+'([^']+)'\\s*;?\\s*$$""".r
  private val RefreshIncView =
    s"""(?is)^\\s*REFRESH\\s+INCREMENTAL\\s+VIEW\\s+($R)\\s*;?\\s*$$""".r

  /** `'label' <fraction>` pairs of a RATES/FRACTIONS list, order
    * preserved. Refuses malformed entries with the statement text —
    * a half-parsed list must never fall through to a bare
    * NumberFormatException.
    */
  private val RatePair = """'([^']*)'\s+(\d+(?:\.\d+)?)""".r
  private def parseRatePairs(body: String, what: String): Seq[(String, Double)] =
    body.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map {
      case RatePair(label, v) => label -> v.toDouble
      case bad => throw new IllegalArgumentException(
        s"$what entry <$bad> must be 'label' <fraction>")
    }
  private val AddGenerated =
    s"""(?is)^\\s*ALTER\\s+TABLE\\s+($R)\\s+ALTER\\s+COLUMN\\s+(\\w+)\\s+SET\\s+GENERATED\\s+ALWAYS\\s+AS\\s*\\((.*)\\)\\s*;?\\s*$$""".r
  private val DropGenerated =
    s"""(?is)^\\s*ALTER\\s+TABLE\\s+($R)\\s+ALTER\\s+COLUMN\\s+(\\w+)\\s+DROP\\s+GENERATED\\s*;?\\s*$$""".r
  private val AddIdentity =
    s"""(?is)^\\s*ALTER\\s+TABLE\\s+($R)\\s+ALTER\\s+COLUMN\\s+(\\w+)\\s+SET\\s+GENERATED\\s+ALWAYS\\s+AS\\s+IDENTITY\\s*(?:\\(\\s*START\\s+WITH\\s+(-?\\d+)\\s+(?:INCREMENT|STEP)\\s+BY\\s+(-?\\d+)\\s*\\))?\\s*;?\\s*$$""".r
  private val Delete =
    s"""(?is)^\\s*DELETE\\s+FROM\\s+($R)(?:\\s+WHERE\\s+(.+?))?\\s*;?\\s*$$""".r
  private val Update =
    s"""(?is)^\\s*UPDATE\\s+($R)\\s+SET\\s+(.+?)\\s*;?\\s*$$""".r
  private val MergeHead =
    s"""(?is)^\\s*MERGE\\s+INTO\\s+($R)(?:\\s+(?:AS\\s+)?(?!USING\\b)([A-Za-z_]\\w*))?\\s+USING\\s+(.+?)\\s*;?\\s*$$""".r

  /** Quote/paren-aware scanning for DML bodies, which embed full SQL
    * expressions: a `,` / `AND` / `WHERE` / `WHEN` only splits at
    * paren depth 0 outside single-quoted literals ('' escapes).
    */
  private[sources] object Scan {
    private def wordAt(s: String, i: Int, kw: String): Boolean =
      i + kw.length <= s.length &&
        s.regionMatches(true, i, kw, 0, kw.length) &&
        (i == 0 || !Character.isLetterOrDigit(s(i - 1)) && s(i - 1) != '_') &&
        (i + kw.length == s.length ||
          !Character.isLetterOrDigit(s(i + kw.length)) && s(i + kw.length) != '_')

    /** Index of the first top-level occurrence of keyword `kw`. */
    def firstKeyword(s: String, kw: String): Option[Int] = {
      var depth = 0; var inQ = false; var i = 0
      while (i < s.length) {
        val c = s(i)
        if (inQ) { if (c == '\'') inQ = false }
        else c match {
          case '\'' => inQ = true
          case '(' => depth += 1
          case ')' => depth -= 1
          case _ => if (depth == 0 && wordAt(s, i, kw)) return Some(i)
        }
        i += 1
      }
      None
    }

    /** Split on every top-level occurrence of keyword `kw`; the
      * separators are dropped.
      */
    def splitKeyword(s: String, kw: String): Seq[String] =
      firstKeyword(s, kw) match {
        case None => Seq(s)
        case Some(i) =>
          s.substring(0, i) +: splitKeyword(s.substring(i + kw.length), kw)
      }

    /** Split on top-level `sep` characters. */
    def splitChar(s: String, sep: Char): Seq[String] = {
      val out = Seq.newBuilder[String]
      var depth = 0; var inQ = false; var start = 0; var i = 0
      while (i < s.length) {
        val c = s(i)
        if (inQ) { if (c == '\'') inQ = false }
        else c match {
          case '\'' => inQ = true
          case '(' => depth += 1
          case ')' => depth -= 1
          case `sep` if depth == 0 => out += s.substring(start, i); start = i + 1
          case _ => ()
        }
        i += 1
      }
      out += s.substring(start)
      out.result()
    }

    /** For input starting at '(' : (content inside the outer parens,
      * remainder after the matching close).
      */
    def takeParen(s: String): (String, String) = {
      require(s.nonEmpty && s(0) == '(', s"expected '(': $s")
      var depth = 0; var inQ = false; var i = 0
      while (i < s.length) {
        val c = s(i)
        if (inQ) { if (c == '\'') inQ = false }
        else c match {
          case '\'' => inQ = true
          case '(' => depth += 1
          case ')' =>
            depth -= 1
            if (depth == 0) return (s.substring(1, i), s.substring(i + 1))
          case _ => ()
        }
        i += 1
      }
      sys.error(s"unbalanced parentheses in: $s")
    }
  }

  /** One parsed MERGE clause, still as SQL text (expressions resolve
    * at run time against the target/source schemas).
    */
  sealed trait MergeClauseSql
  object MergeClauseSql {
    case class Update(cond: Option[String], sets: Option[Seq[(String, String)]]) extends MergeClauseSql // None sets = SET *
    case class Delete(cond: Option[String]) extends MergeClauseSql
    case class Insert(cond: Option[String]) extends MergeClauseSql
    case class SourceUpdate(cond: Option[String], sets: Seq[(String, String)]) extends MergeClauseSql
    case class SourceDelete(cond: Option[String]) extends MergeClauseSql
  }

  private val ClauseMatchedUpdate =
    """(?is)^\s*MATCHED\s*(?:AND\s+(.+?))?\s*THEN\s+UPDATE\s+SET\s+(.+)$""".r
  private val ClauseMatchedDelete =
    """(?is)^\s*MATCHED\s*(?:AND\s+(.+?))?\s*THEN\s+DELETE\s*$""".r
  private val ClauseBySourceUpdate =
    """(?is)^\s*NOT\s+MATCHED\s+BY\s+SOURCE\s*(?:AND\s+(.+?))?\s*THEN\s+UPDATE\s+SET\s+(.+)$""".r
  private val ClauseBySourceDelete =
    """(?is)^\s*NOT\s+MATCHED\s+BY\s+SOURCE\s*(?:AND\s+(.+?))?\s*THEN\s+DELETE\s*$""".r
  private val ClauseNotMatchedInsert =
    """(?is)^\s*NOT\s+MATCHED\s*(?:BY\s+TARGET\s*)?(?:AND\s+(.+?))?\s*THEN\s+INSERT\s+\*\s*$""".r
  private val SetItem = """(?s)^\s*(\w+)\s*=\s*(.+?)\s*$""".r
  // plain UPDATE only: a dotted lvalue is a NESTED struct-field path
  // (`SET m.uid = …`, the Delta nested-update shape) — MERGE keeps
  // bare lvalues (a dotted name there would collide with the t./s.
  // alias rewrite)
  private val SetItemPath = """(?s)^\s*([\w.]+)\s*=\s*(.+?)\s*$""".r
  private val OnEquality =
    """(?is)^\s*(?:(\w+)\s*\.\s*)?(\w+)\s*=\s*(?:(\w+)\s*\.\s*)?(\w+)\s*$""".r

  private def parseSets(s: String): Seq[(String, String)] =
    Scan.splitChar(s, ',').map {
      case SetItem(n, e) => n -> e
      case other => sys.error(
        s"malformed SET item '$other' — expected col = expr")
    }

  private def parseSetsNested(s: String): Seq[(String, String)] =
    Scan.splitChar(s, ',').map {
      case SetItemPath(n, e) => n -> e
      case other => sys.error(
        s"malformed SET item '$other' — expected col = expr or " +
          "struct.field = expr")
    }

  /** Rewrite `alias.` qualified references to the kernel's canonical
    * `t.` / `s.` names (word-boundary textual rewrite — the
    * documented caveat of a regex-grammar DML surface).
    */
  private def canonAliases(sql: String, tAlias: String, sAlias: String): String = {
    val t1 = if (tAlias == "t") sql
      else sql.replaceAll(s"\\b${java.util.regex.Pattern.quote(tAlias)}\\s*\\.", "t.")
    if (sAlias == "s") t1
    else t1.replaceAll(s"\\b${java.util.regex.Pattern.quote(sAlias)}\\s*\\.", "s.")
  }

  private def parseMerge(path: String, tAliasOpt: Option[String],
      afterUsing: String, spark: Option[SparkSession]): MergeIntoGraftCommand = {
    val tAlias = tAliasOpt.getOrElse("t")
    val trimmed = afterUsing.trim
    // source: (subquery), '<path>', or a bare table NAME — a graft
    // catalog table reads through its manifest path, any other name
    // becomes a subquery over the session catalog (so `USING dim_x`
    // works for temp views and parquet tables alike)
    val (source, rest1) =
      if (trimmed.startsWith("(")) {
        val (inner, rem) = Scan.takeParen(trimmed)
        (Left(inner), rem)
      } else {
        val PathRe = """(?s)^\s*'([^']+)'(.*)$""".r
        val NameRe = """(?s)^\s*([A-Za-z_][\w.]*)(.*)$""".r
        trimmed match {
          case PathRe(p, rem) => (Right(p), rem)
          case NameRe(n, rem) if !n.equalsIgnoreCase("ON") =>
            (spark.flatMap(graftTableLocation(_, n)) match {
              case Some(p) => Right(p)
              case None => Left(s"SELECT * FROM $n")
            }, rem)
          case _ => sys.error(
            s"MERGE USING expects (subquery), '<path>' or a table name: $trimmed")
        }
      }
    // optional source alias, then ON
    val onIdx = Scan.firstKeyword(rest1, "ON").getOrElse(
      sys.error("MERGE requires an ON clause"))
    val aliasPart = rest1.substring(0, onIdx).trim
    val sAlias = aliasPart match {
      case "" => "s"
      case a => """(?is)^(?:AS\s+)?([A-Za-z_]\w*)$""".r
        .findFirstMatchIn(a).map(_.group(1))
        .getOrElse(sys.error(s"malformed source alias: '$a'"))
    }
    val afterOn = rest1.substring(onIdx + 2)
    val whenIdx = Scan.firstKeyword(afterOn, "WHEN").getOrElse(
      sys.error("MERGE requires at least one WHEN clause"))
    val onSql = afterOn.substring(0, whenIdx)
    // ON: conjunction of same-named key equalities (the kernel's
    // keyed-merge contract; residual predicates go in WHEN ... AND)
    val keyCols = Scan.splitKeyword(onSql, "AND").map {
      case OnEquality(q1, c1, q2, c2) =>
        require(c1.equalsIgnoreCase(c2),
          s"ON equality must pair the SAME column on both sides " +
            s"(got $c1 = $c2); rewrite the statement so keys align " +
            "and put residual predicates in WHEN ... AND")
        Seq(q1, q2).filter(_ != null).foreach(q => require(
          q == tAlias || q == sAlias,
          s"unknown alias '$q' in ON clause (declared: $tAlias, $sAlias)"))
        c1
      case other => sys.error(
        s"ON supports only key equalities (t.k = s.k): '${other.trim}' — " +
          "put residual predicates in WHEN ... AND")
    }
    val canon = (x: String) => canonAliases(x, tAlias, sAlias)
    val clauses = Scan.splitKeyword(afterOn.substring(whenIdx + 4), "WHEN")
      .map {
        case ClauseBySourceUpdate(cond, sets) =>
          MergeClauseSql.SourceUpdate(Option(cond).map(canon),
            parseSets(canon(sets)))
        case ClauseBySourceDelete(cond) =>
          MergeClauseSql.SourceDelete(Option(cond).map(canon))
        case ClauseMatchedUpdate(cond, sets) =>
          val body = sets.trim
          MergeClauseSql.Update(Option(cond).map(canon),
            if (body == "*") None else Some(parseSets(canon(body))))
        case ClauseMatchedDelete(cond) =>
          MergeClauseSql.Delete(Option(cond).map(canon))
        case ClauseNotMatchedInsert(cond) =>
          MergeClauseSql.Insert(Option(cond).map(canon))
        case other => sys.error(s"malformed MERGE clause: WHEN $other")
      }
    MergeIntoGraftCommand(path, source, keyCols, clauses)
  }

  /** Resolve a bare table NAME to its graft table location: Some
    * iff the session catalog holds it with provider `graft` (created
    * by `CREATE TABLE n USING graft LOCATION p` or `saveAsTable`).
    * Anything else — absent, temp view, other provider — is None, so
    * the statement falls through to Spark's own parser and the graft
    * grammar never shadows a non-graft table.
    */
  def graftTableLocation(spark: SparkSession, name: String): Option[String] =
    catalogMeta(spark, name)
      .filter(_.provider.exists(_.equalsIgnoreCase("graft")))
      .map(m => locationToPath(m.location))

  private def catalogMeta(spark: SparkSession, name: String)
      : Option[org.apache.spark.sql.catalyst.catalog.CatalogTable] = {
    val parts = name.split("\\.").toSeq
    if (parts.length > 2 || parts.exists(_.isEmpty)) return None
    val ident =
      if (parts.length == 2) TableIdentifier(parts(1), Some(parts(0)))
      else TableIdentifier(parts.head)
    val cat = spark.sessionState.catalog
    try {
      if (!cat.tableExists(ident)) None
      else Some(cat.getTableMetadata(ident))
    } catch {
      case _: org.apache.spark.sql.AnalysisException => None
    }
  }

  /** CatalogTable.location → the path string every [[DataSkipping]]
    * entry point takes: bare filesystem path for local URIs, full
    * URI for remote schemes (both shapes round-trip through Hadoop
    * Path identically).
    */
  private def locationToPath(uri: java.net.URI): String =
    if (uri.getScheme == null || uri.getScheme == "file") uri.getPath
    else uri.toString

  /** The graft statement grammar against path literals ONLY (no
    * session, so bare names cannot resolve): Some(command plan) when
    * `sqlText` is a graft statement, None to mean "not ours".
    */
  def parse(sqlText: String): Option[LogicalPlan] =
    parseWith(sqlText, None)

  /** The session-aware grammar: table references may be `'path'`
    * literals or bare catalog NAMES of graft-provider tables. A name
    * that is not a graft table makes the whole statement "not ours"
    * (None) — Spark's own parser sees it verbatim, so standard SQL
    * over non-graft tables is never intercepted.
    */
  def parse(sqlText: String, spark: SparkSession): Option[LogicalPlan] =
    parseWith(sqlText, Some(spark))

  /** Source frame of a CORPUS statement (DEDUP/CHUNK): a `'path'`
    * literal reads a graft table through its manifest (plain parquet
    * when no stats dir exists); a bare name is ANY session-catalog
    * table or view — corpus operators are not storage maintenance,
    * so they place no graft-table requirement on their input.
    */
  private def corpusSource(spark: SparkSession, g: String): DataFrame =
    if (g.startsWith("'")) {
      val path = g.substring(1, g.length - 1)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(new org.apache.hadoop.fs.Path(
          s"$path/${DataSkipping.StatsDir}")))
        DataSkipping.readSkipping(spark, path,
          org.apache.spark.sql.functions.lit(true))
      else spark.read.parquet(path)
    } else spark.table(g)

  private def parseWith(sqlText: String,
      spark: Option[SparkSession]): Option[LogicalPlan] = {
    // quoted ref → the path inside the quotes; bare name → the graft
    // catalog location, None (fall through) when it isn't one
    def ref(g: String): Option[String] =
      if (g.startsWith("'")) Some(g.substring(1, g.length - 1))
      else spark.flatMap(graftTableLocation(_, g))
    // CONVERT targets are NOT YET graft tables: a bare name resolves
    // through the catalog under ANY provider, and the command carries
    // the name so a successful convert flips the entry to graft
    def refAny(g: String): Option[(String, Option[String])] =
      if (g.startsWith("'")) Some((g.substring(1, g.length - 1), None))
      else spark.flatMap(catalogMeta(_, g))
        .map(m => (locationToPath(m.location), Some(g)))
    sqlText match {
      // the WHERE+ZORDER/INCREMENTAL refusals fire only AFTER the
      // reference resolves to a graft table — a bare name that is
      // some other system's table must fall through to the delegate
      // untouched, never die on a graft grammar rule
      case Optimize(t, where, null, null) =>
        ref(t).map(OptimizeGraftCommand(_, Nil, whereSql = Option(where)))
      case Optimize(t, where, null, _)    =>
        ref(t).map { p =>
          require(where == null,
            "OPTIMIZE ... INCREMENTAL does not take WHERE — the backlog " +
              "is already its scope")
          OptimizeGraftCommand(p, Nil, incremental = true)
        }
      case Optimize(t, where, zCols, _)   =>
        ref(t).map { p =>
          require(where == null,
            "OPTIMIZE ... WHERE with ZORDER BY is not supported — " +
              "scoped re-clustering is OPTIMIZE INCREMENTAL's job")
          val cols = zCols.split(",").map(_.trim).filter(_.nonEmpty).toSeq
          OptimizeGraftCommand(p, cols)
        }
      case Vacuum(t, hours, dry) =>
        ref(t).map(VacuumGraftCommand(_, Option(hours).map(_.toLong), dry != null))
      case History(t)         => ref(t).map(DescribeHistoryGraftCommand(_))
      case Detail(t)          => ref(t).map(DescribeDetailGraftCommand(_))
      case Restore(t, v)      => ref(t).map(RestoreGraftCommand(_, v.toLong))
      case RestoreTs(t, ts)   =>
        ref(t).map(RestoreTimestampGraftCommand(_, ts))
      case ShowParts(t)       => ref(t).map(ShowPartitionsGraftCommand(_))
      case AddConstraint(t, name, expr) =>
        ref(t).map(AddConstraintGraftCommand(_, name, expr.trim))
      case DropConstraint(t, name) =>
        ref(t).map(DropConstraintGraftCommand(_, name))
      case RenameCol(t, from, to) =>
        ref(t).map(RenameColumnGraftCommand(_, from, to))
      case DropCol(t, name) =>
        ref(t).map(DropColumnGraftCommand(_, name))
      case Convert(t, cols, partCols) =>
        refAny(t).map { case (p, catalogName) =>
          ConvertGraftCommand(p,
            cols.split(",").map(_.trim).filter(_.nonEmpty).toSeq,
            Option(partCols).toSeq.flatMap(
              _.split(",").map(_.trim).filter(_.nonEmpty)),
            catalogName)
        }
      case Reorg(t) => ref(t).map(ReorgGraftCommand(_))
      case Checkpoint(t) => ref(t).map(CheckpointGraftCommand(_))
      case ShowIndexes(t) => ref(t).map(ShowIndexesGraftCommand(_))
      case CreateIncView(v, kindTok, valTok, b, gTok, ck) =>
        for { vp <- ref(v); bp <- ref(b) } yield
          MaintainViewGraftCommand(vp, bp, colName(gTok), colName(valTok),
            kindTok.toUpperCase match {
              case "SUM" => "sum_count"
              case "MINMAX" => "min_max"
              case _ => "moments"
            }, ck)
      case RefreshIncView(v) => ref(v).map(RefreshViewGraftCommand(_))
      // IDENTITY must match before the generic generated-expression
      // form (its expression body would otherwise swallow "IDENTITY")
      case AddIdentity(t, colName, start, step) =>
        ref(t).map(AddIdentityGraftCommand(_, colName,
          Option(start).map(_.toLong).getOrElse(1L),
          Option(step).map(_.toLong).getOrElse(1L)))
      case AddGenerated(t, colName, expr)
          if !expr.trim.isEmpty =>
        ref(t).map(AddGeneratedGraftCommand(_, colName, expr.trim))
      case DropGenerated(t, colName) =>
        ref(t).map(DropGeneratedGraftCommand(_, colName))
      // CORPUS statements (r17 — the SQL face of the SURVEY §2c
      // text-pipeline family): these PRODUCE A DATASET, so the parse
      // result is the operator's own logical plan (fully lazy and
      // distributed — a command's driver-side Seq[Row] would collect
      // the corpus), not a command. DEDUP/CHUNK are not Spark SQL
      // keywords, so intercepting bare names never shadows standard
      // SQL; the source may be ANY table/view name, a graft-table
      // path, or a plain parquet path.
      case DedupStmt(t, idColTok, textColTok, method, threshold) =>
        spark.map { s =>
          val (idCol, textCol) = (colName(idColTok), colName(textColTok))
          val df = corpusSource(s, t)
          Option(method).map(_.toUpperCase) match {
            case None | Some("EXACT") =>
              require(threshold == null,
                "THRESHOLD applies to METHOD MINHASH only")
              df.join(
                graft.operators.Dedup.exactByHash(df, idCol, textCol)
                  .select(org.apache.spark.sql.functions.col("rep_id")
                    .as(idCol)),
                Seq(idCol), "left_semi")
                .queryExecution.logical
            case Some("MINHASH") =>
              // the minhash pipeline is inherently EAGER (iterative
              // component resolution), so it must not run at parse
              // time — EXPLAIN or a re-parse would execute the whole
              // distributed job. A DeferredCorpusPlan leaf carries
              // the statement's schema through planning and runs the
              // pipeline exactly once, at execution, releasing its
              // signature caches as soon as the losers frame is
              // checkpointed (the result no longer references them).
              val th = Option(threshold).map(_.toDouble).getOrElse(0.6)
              graft.plans.DeferredCorpusPlan(
                s"DedupMinhash($t, $idCol, $textCol, threshold=$th)",
                df.queryExecution.analyzed.output,
                () => {
                  val scope = new graft.operators.CacheScope
                  try graft.operators.Dedup.deduplicate(df, idCol, textCol,
                    threshold = th, scope = scope)
                  finally scope.release()
                })
            case Some(other) => sys.error(s"unknown DEDUP method $other")
          }
        }
      case ChunkStmt(t, idCol, textCol, size, overlap) =>
        spark.map { s =>
          graft.operators.TextOps.chunkDocs(corpusSource(s, t),
              colName(idCol), colName(textCol),
              chunkTokens = Option(size).map(_.toInt).getOrElse(512),
              overlapTokens = Option(overlap).map(_.toInt).getOrElse(0))
            .queryExecution.logical
        }
      case SampleStmt(t, idTok, srcTok, ratesBody, deflt) =>
        spark.map { s =>
          graft.operators.TextOps.sampleBySource(corpusSource(s, t),
              colName(idTok), colName(srcTok),
              rates = parseRatePairs(ratesBody, "RATES").toMap,
              defaultRate = Option(deflt).map(_.toDouble).getOrElse(1.0))
            .queryExecution.logical
        }
      case SplitStmt(t, idTok, fracBody, pairsRef, aTok, bTok) =>
        spark.map { s =>
          val fractions = parseRatePairs(fracBody, "FRACTIONS")
          val docs = corpusSource(s, t)
          val idCol = colName(idTok)
          if (pairsRef == null)
            graft.operators.TextOps.assignSplits(docs, idCol, fractions)
              .queryExecution.logical
          else {
            // LEAKAGE SAFE resolves duplicate components — an
            // inherently eager iterative job, so it defers like
            // DEDUP MINHASH (parse/EXPLAIN never run it)
            val pairs = corpusSource(s, pairsRef)
              .select(col(colName(aTok)).as("id_a"),
                col(colName(bTok)).as("id_b"))
            graft.plans.DeferredCorpusPlan(
              s"SplitLeakageSafe($t, $idCol, using=$pairsRef)",
              graft.operators.TextOps.assignSplits(docs, idCol, fractions)
                .queryExecution.analyzed.output,
              () => graft.operators.TextOps.assignSplitsLeakageSafe(
                docs, idCol, pairs, fractions))
          }
        }
      case ScoreStmt(t, idTok, textTok) =>
        spark.map { s =>
          import graft.functions.TextFunctions
          val txt = col(colName(textTok))
          corpusSource(s, t).select(col(colName(idTok)),
              TextFunctions.tokenCount(txt).cast("bigint").as("n_tokens"),
              TextFunctions.stopwordRatio(txt).as("stopword_ratio"),
              TextFunctions.punctRatio(txt).as("punct_ratio"),
              TextFunctions.qualityScore(txt).as("score"),
              TextFunctions.langId(txt).as("lang_pred"))
            .queryExecution.logical
        }
      case VectorSearchStmt(idxTok, srcTok, idTok, vecTok, k, probe) =>
        for {
          s <- spark
          idxPath <- ref(idxTok)
        } yield {
          // the standing-index lookup over any query frame: columns
          // of the statement map onto the index's trained columns,
          // and the search itself (probe-cell collect + pruned coded
          // scan) DEFERS — parse/EXPLAIN read only the frozen sidecar
          // and the schemas, never a corpus byte
          val mt = VectorIndex.meta(s, idxPath)
          val queries = corpusSource(s, srcTok)
            .select(col(colName(idTok)).as(mt.idCol),
              col(colName(vecTok)).as(mt.vecCol))
          val nProbe = Option(probe).map(_.toInt).getOrElse(1)
          val qType = queries.queryExecution.analyzed
            .schema(mt.idCol).dataType
          val nType = s.read.format("graft").load(idxPath)
            .schema("id").dataType
          graft.plans.DeferredCorpusPlan(
            s"VectorSearch($idxPath, top=$k, probe=$nProbe)",
            Seq(
              AttributeReference("query_id", qType)(),
              AttributeReference("neighbor_id", nType)(),
              AttributeReference("rank",
                org.apache.spark.sql.types.IntegerType)(),
              AttributeReference("cosine",
                org.apache.spark.sql.types.DoubleType)()),
            () => VectorIndex.search(s, queries, idxPath,
              k = k.toInt, nProbe = nProbe))
        }
      case Delete(t, cond) =>
        ref(t).map(DeleteGraftCommand(_, Option(cond)))
      case Update(t, body) =>
        // the SET body may carry a top-level WHERE — split quote/paren
        // aware so WHERE inside a nested expression stays put
        val (sets, cond) = Scan.firstKeyword(body, "WHERE") match {
          case Some(i) => (body.substring(0, i), Some(body.substring(i + 5)))
          case None => (body, None)
        }
        ref(t).map(UpdateGraftCommand(_, parseSetsNested(sets), cond))
      case MergeHead(t, tAlias, rest) =>
        ref(t).map(parseMerge(_, Option(tAlias), rest, spark))
      case _ => None
    }
  }

  /** Run a statement against ANY session (no extension install
    * needed): graft maintenance statements execute their command,
    * everything else is `spark.sql`. Bare table names resolve
    * through the session's catalog exactly as with the injected
    * parser.
    */
  def sql(spark: SparkSession, sqlText: String): DataFrame =
    parse(sqlText, spark) match {
      case Some(cmd: LeafRunnableCommand) =>
        val schema = StructType(cmd.output.map(a =>
          StructField(a.name, a.dataType, a.nullable)))
        spark.createDataFrame(
          scala.jdk.CollectionConverters.SeqHasAsJava(cmd.run(spark)).asJava,
          schema)
      // a deferred corpus statement needs the planner strategy the
      // extensions install; on a bare session run its builder
      // directly — the pipeline executes here (not at parse), and
      // the returned frame is the pipeline's lazy RESULT plan
      case Some(d: graft.plans.DeferredCorpusPlan) => d.build()
      // corpus statements carry the operator's own (lazy) plan
      case Some(plan) =>
        org.apache.spark.sql.graft.GraftSqlShims.ofRows(
          spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
      case None => spark.sql(sqlText)
    }
}

/** `OPTIMIZE '<path>'` → [[DataSkipping.compactTable]];
  * `OPTIMIZE '<path>' ZORDER BY (...)` → [[DataSkipping.zorderTable]]
  * with the file target derived from live bytes at the compaction
  * default (128 MiB per file) — Delta's OPTIMIZE picks its own file
  * count the same way; `OPTIMIZE '<path>' INCREMENTAL` →
  * [[DataSkipping.optimizeIncremental]] (recluster only the
  * unclustered backlog — the liquid-clustering maintenance shape).
  */
case class OptimizeGraftCommand(path: String, zCols: Seq[String],
    incremental: Boolean = false, whereSql: Option[String] = None)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", StringType, nullable = false)(),
    AttributeReference("operation", StringType, nullable = false)(),
    AttributeReference("result_files", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.expr
    val files =
      if (whereSql.isDefined)
        DataSkipping.compactWhere(spark, path, expr(whereSql.get))
      else if (incremental) DataSkipping.optimizeIncremental(spark, path)
      else if (zCols.isEmpty) DataSkipping.compactTable(spark, path)
      else {
        val bytes = DataSkipping.tableDetail(spark, path)
          .select("size_bytes").head.getLong(0)
        val target = math.max(1L, (bytes + (128L << 20) - 1) / (128L << 20)).toInt
        DataSkipping.zorderTable(spark, path, zCols, targetFiles = target)
      }
    val op = if (whereSql.isDefined) s"OPTIMIZE WHERE ${whereSql.get}"
      else if (incremental) "OPTIMIZE INCREMENTAL"
      else if (zCols.isEmpty) "OPTIMIZE"
      else s"OPTIMIZE ZORDER BY (${zCols.mkString(", ")})"
    Seq(Row(path, op, files.toLong))
  }
}

/** `VACUUM '<path>' [RETAIN n HOURS] [DRY RUN]` →
  * [[DataSkipping.vacuumTable]] / [[DataSkipping.vacuumDryRun]]
  * (default retention = the table default, Delta's 7 days). DRY RUN
  * returns one row per file the vacuum WOULD delete, like Delta's.
  */
case class VacuumGraftCommand(path: String, retainHours: Option[Long],
    dryRun: Boolean = false)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val retention = retainHours.map(_ * 3600000L)
    if (dryRun) {
      val would = retention match {
        case Some(ms) => DataSkipping.vacuumDryRun(spark, path, ms)
        case None     => DataSkipping.vacuumDryRun(spark, path)
      }
      would.map(Row(_))
    } else {
      retention match {
        case Some(ms) => DataSkipping.vacuumTable(spark, path, ms)
        case None     => DataSkipping.vacuumTable(spark, path)
      }
      Seq(Row(path))
    }
  }
}

/** `CHECKPOINT '<path>'` → [[DataSkipping.checkpointManifest]]: fold
  * an ingest-cadence table's manifest parts to one (the Delta
  * checkpoint analog), data untouched. Returns the committed version.
  */
case class CheckpointGraftCommand(path: String)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(DataSkipping.checkpointManifest(spark, path)))
}

/** `CREATE INCREMENTAL VIEW '<view>' AS SUM|MINMAX|MOMENTS(<value>)
  * OF '<base>' GROUP BY <group> CHECKPOINT '<dir>'` → bootstrap (or
  * refresh, if the view exists — the maintainers are idempotent entry
  * points) the incrementally-maintained aggregate view
  * ([[graft.streaming.IncrementalView]]). Returns (view, live group
  * count). Like the maintenance family, the command runs when the
  * statement executes — the drain is inherently eager.
  */
case class MaintainViewGraftCommand(view: String, base: String,
    groupCol: String, valueCol: String, kind: String, checkpoint: String)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("view", StringType, nullable = false)(),
    AttributeReference("groups", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val served = kind match {
      case "sum_count" => graft.streaming.IncrementalView.maintainSumCount(
        spark, base, view, groupCol, valueCol, checkpoint)
      case "min_max" => graft.streaming.IncrementalView.maintainMinMax(
        spark, base, view, groupCol, valueCol, checkpoint)
      case "moments" => graft.streaming.IncrementalView.maintainMeanVar(
        spark, base, view, groupCol, valueCol, checkpoint)
      case other => sys.error(s"unknown incremental-view kind $other")
    }
    Seq(Row(view, served.count()))
  }
}

/** `REFRESH INCREMENTAL VIEW '<view>'` → re-drain the view's change
  * feed using the spec + checkpoint its `_mv.json` sidecar declares
  * (the view is self-describing, so refresh needs only the path).
  */
case class RefreshViewGraftCommand(view: String)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("view", StringType, nullable = false)(),
    AttributeReference("groups", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val (spec, checkpoint) = MaterializedViews.specOf(spark, view)
    require(checkpoint.nonEmpty,
      s"$view's sidecar predates checkpoint tracking — refresh it " +
        "once via IncrementalView.maintain* to upgrade")
    MaintainViewGraftCommand(view, spec.base, spec.groupCol,
      spec.valueCol, spec.kind, checkpoint).run(spark)
  }
}

/** `SHOW INDEXES '<path>'` → the table's standing vector-index
  * sidecar ([[VectorIndex.meta]]), one row per index (the coded table
  * holds at most one today). Empty result = no index.
  */
case class ShowIndexesGraftCommand(path: String)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("kind", StringType, nullable = false)(),
    AttributeReference("id_col", StringType, nullable = false)(),
    AttributeReference("vec_col", StringType, nullable = false)(),
    AttributeReference("dim", LongType, nullable = false)(),
    AttributeReference("n_centers", LongType, nullable = false)(),
    AttributeReference("m", LongType, nullable = false)(),
    AttributeReference("ksub", LongType, nullable = false)(),
    AttributeReference("residual", org.apache.spark.sql.types.BooleanType,
      nullable = false)())

  override def run(spark: SparkSession): Seq[Row] =
    VectorIndex.metaOption(spark, path).toSeq.map(mt =>
      Row("ivf-pq", mt.idCol, mt.vecCol, mt.dim.toLong,
        mt.nCenters.toLong, mt.m.toLong, mt.ksub.toLong, mt.residual))
}

/** `DESCRIBE HISTORY '<path>'` → [[DataSkipping.describeHistory]]. */
case class DescribeHistoryGraftCommand(path: String)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("operation", StringType, nullable = false)(),
    AttributeReference("op_time", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] =
    DataSkipping.describeHistory(spark, path).collect().toSeq
}

/** `DESCRIBE DETAIL '<path>'` → [[DataSkipping.tableDetail]]. */
case class DescribeDetailGraftCommand(path: String)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("num_files", LongType, nullable = false)(),
    AttributeReference("size_bytes", LongType, nullable = false)(),
    AttributeReference("num_rows_physical", LongType, nullable = false)(),
    AttributeReference("dv_entries", LongType, nullable = false)(),
    AttributeReference("earliest_version", LongType, nullable = false)(),
    AttributeReference("latest_version", LongType, nullable = false)(),
    AttributeReference("features", StringType, nullable = false)(),
    AttributeReference("stats_columns", StringType, nullable = false)(),
    AttributeReference("num_constraints", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] =
    DataSkipping.tableDetail(spark, path).collect().toSeq
}

/** `RESTORE '<path>' [TO] VERSION AS OF n` →
  * [[DataSkipping.restoreTable]].
  */
case class RestoreGraftCommand(path: String, version: Long)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", StringType, nullable = false)(),
    AttributeReference("restored_version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    DataSkipping.restoreTable(spark, path, version)
    Seq(Row(path, version))
  }
}

/** `RESTORE <table> [TO] TIMESTAMP AS OF '<instant>'` — Delta's
  * timestamp-restore form: the instant (epoch millis or
  * `java.sql.Timestamp`-parseable text) resolves through
  * [[DataSkipping.versionAtTime]] (in-commit timestamps, monotonic),
  * then restores that version.
  */
case class RestoreTimestampGraftCommand(path: String, tsText: String)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", StringType, nullable = false)(),
    AttributeReference("restored_version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val ms = tsText.toLongOption.getOrElse(
      java.sql.Timestamp.valueOf(tsText).getTime)
    val v = DataSkipping.versionAtTime(spark, path, ms)
    DataSkipping.restoreTable(spark, path, v)
    Seq(Row(path, v))
  }
}

/** `SHOW PARTITIONS <table>` — Hive/Delta's listing, answered from
  * the MANIFEST (partition columns are tracked min=max per file, so
  * distinct partition tuples are one small manifest aggregate — no
  * directory listing at any table size). One `p1=v1/p2=v2` row per
  * live partition, logical column names, Hive default-partition
  * marker for nulls, sorted.
  */
case class ShowPartitionsGraftCommand(path: String)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("partition", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val df = DataSkipping.partitionValues(spark, path)
    val names = df.columns
    df.collect().map { r =>
      names.indices.map { i =>
        val v =
          if (r.isNullAt(i)) ExternalCatalogUtils.DEFAULT_PARTITION_NAME
          else ExternalCatalogUtils.escapePathName(r.get(i).toString)
        s"${ExternalCatalogUtils.escapePathName(names(i))}=$v"
      }.mkString("/")
    }.sorted.map(Row(_)).toSeq
  }
}

/** `ALTER TABLE '<path>' ADD CONSTRAINT nm CHECK (expr)` →
  * [[DataSkipping.addCheckConstraint]] (validates existing rows, like
  * Delta's ADD CONSTRAINT).
  */
case class AddConstraintGraftCommand(path: String, name: String, exprSql: String)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", StringType, nullable = false)(),
    AttributeReference("constraint", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    DataSkipping.addCheckConstraint(spark, path, name, exprSql)
    Seq(Row(path, name))
  }
}

/** `ALTER TABLE '<path>' DROP CONSTRAINT nm` →
  * [[DataSkipping.dropCheckConstraint]].
  */
case class DropConstraintGraftCommand(path: String, name: String)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", StringType, nullable = false)(),
    AttributeReference("constraint", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    DataSkipping.dropCheckConstraint(spark, path, name)
    Seq(Row(path, name))
  }
}

/** `ALTER TABLE '<path>' RENAME COLUMN a TO b` →
  * [[DataSkipping.renameColumn]] (metadata-only, zero data rewritten).
  */
case class RenameColumnGraftCommand(path: String, from: String, to: String)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", StringType, nullable = false)(),
    AttributeReference("column", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    DataSkipping.renameColumn(spark, path, from, to)
    Seq(Row(path, to))
  }
}

/** `ALTER TABLE '<path>' DROP COLUMN c` →
  * [[DataSkipping.dropColumn]] (metadata-only).
  */
case class DropColumnGraftCommand(path: String, column: String)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", StringType, nullable = false)(),
    AttributeReference("column", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    DataSkipping.dropColumn(spark, path, column)
    Seq(Row(path, column))
  }
}

/** `CONVERT TO GRAFT '<path>' STATS BY (c1, c2)` →
  * [[DataSkipping.convertToStats]] (the Delta CONVERT TO DELTA
  * analog — zero data rewritten).
  */
case class ConvertGraftCommand(path: String, statsCols: Seq[String],
    partitionBy: Seq[String] = Nil, catalogName: Option[String] = None)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", StringType, nullable = false)(),
    AttributeReference("num_files", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val n = DataSkipping.convertToStats(spark, path, statsCols,
      partitionBy = partitionBy)
    // name-addressed CONVERT (Delta's `CONVERT TO DELTA tbl` shape):
    // the data converted in place, so flip the catalog entry's
    // provider — name-based reads and graft DML resolve from now on.
    // VERIFY the flip stuck: HiveExternalCatalog silently restores
    // datasource properties (incl. the provider) on alterTable, so a
    // metastore-backed session would otherwise end up converted on
    // disk but unreachable by name — fail LOUDLY with the remedy
    // instead (the data conversion itself is already durable).
    catalogName.foreach { name =>
      val cat = spark.sessionState.catalog
      val ident = spark.sessionState.sqlParser.parseTableIdentifier(name)
      val old = cat.getTableMetadata(ident)
      cat.alterTable(old.copy(provider = Some("graft")))
      cat.refreshTable(ident)
      val now = cat.getTableMetadata(ident)
      if (!now.provider.exists(_.equalsIgnoreCase("graft"))) {
        throw new IllegalStateException(
          s"CONVERT TO GRAFT converted the data at $path but this " +
            s"catalog refused the provider change on $name " +
            s"(still ${now.provider.getOrElse("?")}). Re-register the " +
            s"entry: DROP TABLE $name; CREATE TABLE $name USING graft " +
            s"LOCATION '$path'")
      }
    }
    Seq(Row(path, n))
  }
}

/** Delegating parser: graft maintenance statements parse to their
  * command plans; every other string goes to the wrapped parser
  * untouched. Injected by `graft.plans.GraftExtensions`
  * (`ext.injectParser`). With a session in hand (the injected form)
  * bare table NAMES resolve through the session catalog; the
  * session-less constructor keeps the path-literal-only grammar.
  */
class GraftSqlParser(session: Option[SparkSession],
    delegate: ParserInterface) extends ParserInterface {

  def this(delegate: ParserInterface) = this(None, delegate)
  def this(session: SparkSession, delegate: ParserInterface) =
    this(Some(session), delegate)

  override def parsePlan(sqlText: String): LogicalPlan =
    (session match {
      case Some(s) => GraftSql.parse(sqlText, s)
      case None => GraftSql.parse(sqlText)
    }).getOrElse(delegate.parsePlan(sqlText))

  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)

  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)

  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)

  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)

  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)

  override def parseDataType(sqlText: String): org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)

  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

/** `REORG TABLE '<path>' APPLY (PURGE)` →
  * [[DataSkipping.purgeDeletionVectors]] (rewrites only the
  * vector's files).
  */
case class ReorgGraftCommand(path: String) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", StringType, nullable = false)(),
    AttributeReference("rows_purged", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(path, DataSkipping.purgeDeletionVectors(spark, path)))
}

/** `ALTER TABLE '<path>' ALTER COLUMN c SET GENERATED ALWAYS AS
  * (expr)` → [[DataSkipping.addGeneratedColumn]].
  */
case class AddGeneratedGraftCommand(path: String, column: String,
    exprSql: String) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", StringType, nullable = false)(),
    AttributeReference("column", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    DataSkipping.addGeneratedColumn(spark, path, column, exprSql)
    Seq(Row(path, column))
  }
}

/** `ALTER TABLE '<path>' ALTER COLUMN c DROP GENERATED` →
  * [[DataSkipping.dropGeneratedColumn]].
  */
case class DropGeneratedGraftCommand(path: String, column: String)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", StringType, nullable = false)(),
    AttributeReference("column", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    DataSkipping.dropGeneratedColumn(spark, path, column)
    Seq(Row(path, column))
  }
}

/** `ALTER TABLE '<path>' ALTER COLUMN c SET GENERATED ALWAYS AS
  * IDENTITY [(START WITH n STEP BY m)]` →
  * [[DataSkipping.addIdentityColumn]].
  */
case class AddIdentityGraftCommand(path: String, column: String,
    start: Long, step: Long) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", StringType, nullable = false)(),
    AttributeReference("column", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    DataSkipping.addIdentityColumn(spark, path, column, start, step)
    Seq(Row(path, column))
  }
}

/** `DELETE FROM '<path>' [WHERE cond]` →
  * [[DataSkipping.deleteWhere]] (copy-on-write; missing WHERE
  * deletes every row, Delta's semantics).
  */
case class DeleteGraftCommand(path: String, condSql: Option[String])
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", StringType, nullable = false)(),
    AttributeReference("rows_deleted", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.{expr, lit}
    val n = DataSkipping.deleteWhere(spark, path,
      condSql.map(expr).getOrElse(lit(true)))
    Seq(Row(path, n))
  }
}

/** `UPDATE '<path>' SET a = expr, ... [WHERE cond]` →
  * [[DataSkipping.updateWhere]] (copy-on-write rewrite of exactly
  * the files the predicate's stats envelope admits).
  */
case class UpdateGraftCommand(path: String, sets: Seq[(String, String)],
    condSql: Option[String]) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", StringType, nullable = false)(),
    AttributeReference("rows_updated", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.{expr, lit}
    val n = DataSkipping.updateWhere(spark, path,
      condSql.map(expr).getOrElse(lit(true)),
      sets.map { case (c, e) => c -> expr(e) }.toMap)
    Seq(Row(path, n))
  }
}

/** `MERGE INTO '<path>' ... ` → the full conditional
  * [[DataSkipping.mergeInto]] kernel. The source resolves at run
  * time: a subquery through the session's own SQL (so it may read
  * ANY table the session can, including other graft paths via
  * `format("graft")`), a path literal through
  * [[DataSkipping.readSkipping]]. `UPDATE SET *` expands to every
  * non-key source column; `INSERT *` is the kernel's insert-source-
  * row shape.
  */
case class MergeIntoGraftCommand(path: String,
    source: Either[String, String], keyCols: Seq[String],
    clauseSqls: Seq[GraftSql.MergeClauseSql]) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", StringType, nullable = false)(),
    AttributeReference("rows_updated", LongType, nullable = false)(),
    AttributeReference("rows_deleted", LongType, nullable = false)(),
    AttributeReference("rows_inserted", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.{col, expr}
    import GraftSql.MergeClauseSql
    val src = source match {
      case Left(subquery) => spark.sql(subquery)
      case Right(p) => DataSkipping.readSkipping(spark, p,
        org.apache.spark.sql.functions.lit(true))
    }
    def sets(items: Seq[(String, String)]): Map[String, Column] =
      items.map { case (c, e) => c -> expr(e) }.toMap
    val starSets: Map[String, Column] = src.columns.toSeq
      .filterNot(c => keyCols.exists(_.equalsIgnoreCase(c)))
      .map(c => c -> col(s"s.$c")).toMap
    val clauses: Seq[MergeClause] = clauseSqls.map {
      case MergeClauseSql.Update(cond, s) =>
        MergeClause.MatchedUpdate(cond.map(expr),
          s.map(sets).getOrElse(starSets))
      case MergeClauseSql.Delete(cond) =>
        MergeClause.MatchedDelete(cond.map(expr))
      case MergeClauseSql.Insert(cond) =>
        MergeClause.NotMatchedInsert(cond.map(expr))
      case MergeClauseSql.SourceUpdate(cond, s) =>
        MergeClause.BySourceUpdate(cond.map(expr), sets(s))
      case MergeClauseSql.SourceDelete(cond) =>
        MergeClause.BySourceDelete(cond.map(expr))
    }
    val (u, d, i) = DataSkipping.mergeInto(spark, path, src, keyCols, clauses)
    Seq(Row(path, u, d, i))
  }
}
