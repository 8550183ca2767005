package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions.{expr, lit}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructType}

import graft.sources.TxLog

/** SQL DML front-end for transaction-log tables — the Delta-style
  * statement surface, routed to the existing transactional front doors
  * (never a parallel implementation):
  *
  * {{{
  *   MERGE INTO txlog.`/root` t USING src s ON t.k = s.k
  *     WHEN MATCHED AND t.v < s.v THEN UPDATE SET v = s.v
  *     WHEN MATCHED THEN DELETE
  *     WHEN NOT MATCHED THEN INSERT *        -- TxLog.mergeClausesTx
  *   UPDATE txlog.`/root` SET v = v + 1 WHERE k = 3   -- updateWhereTx
  *   DELETE FROM txlog.`/root` WHERE k = 3            -- deleteWhereTx
  *   RESTORE TABLE txlog.`/root` TO VERSION AS OF 3   -- restoreTx
  *   DESCRIBE HISTORY txlog.`/root`                   -- history
  *   DESCRIBE DETAIL txlog.`/root`                    -- tableDetail
  *   VACUUM txlog.`/root` [RETAIN 24 HOURS]           -- vacuum
  *   ALTER TABLE txlog.`/root` RENAME COLUMN a TO b   -- renameColumnTx
  *     | DROP COLUMN a | ADD COLUMN a type | ADD COLUMNS (a type, ...)
  *     | ADD CONSTRAINT n CHECK (e) | DROP CONSTRAINT n
  * }}}
  *
  * Injected via [[GraftExtensions]] (`injectParser`); every statement
  * NOT addressing a ``txlog.`...``` table delegates to Spark's parser
  * untouched. Embedded expressions (ON/WHERE/SET/clause conditions) are
  * passed through as SQL text to the front doors — the parser splits at
  * top-level keywords only, so the full Spark expression language works
  * inside them. MERGE target/source aliases are fixed to `t` and `s`
  * (the aliases [[TxLog.mergeClausesTx]] binds clause expressions
  * against); any other alias refuses loudly rather than failing to
  * resolve downstream. A malformed txlog statement is its own loud
  * error, never a silent fall-through to Spark's parser. */
class GraftSqlParser(session: SparkSession, delegate: ParserInterface)
    extends ParserInterface {
  override def parsePlan(sqlText: String): LogicalPlan =
    TxSql.maybeParse(session, sqlText).getOrElse {
      // SELECT / time-travel / INSERT over txlog.`<root>` substitute at
      // PARSE time: Spark's ResolveSQLOnFile refuses unknown direct-query
      // sources BEFORE extension resolution rules run, so the relation
      // rewrite must happen on the freshly-parsed tree
      graft.streaming.TxBatchReadRule(session)(delegate.parsePlan(sqlText))
    }
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

/** Eagerly-executed DML command (the RunnableCommand contract: runs once
  * when the `spark.sql(...)` Dataset materializes, returns its summary
  * rows). */
private[graft] final case class TxSqlCommand(
    override val output: Seq[Attribute],
    @transient body: SparkSession => Seq[Row]) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = body(session)
}

private[graft] object TxSql {
  /** A registered [[TxCatalog]] instance by name (None = not registered
    * or not ours — the statement belongs to Spark). */
  private def txCatalogOf(session: SparkSession, name: String)
      : Option[TxCatalog] =
    try session.sessionState.catalogManager.catalog(name) match {
      case c: TxCatalog => Some(c)
      case _ => None
    } catch { case _: Exception => None }

  /** A bare/namespace-relative name resolved against the session's
    * CURRENT catalog (the `USE gcat` flow): when the current catalog is
    * a [[TxCatalog]], a 1-part name resolves under the current
    * namespace and an n-part name under its explicit namespace —
    * EXISTENCE-GATED (an unregistered name delegates to Spark, whose
    * own resolution owns the error), and NEVER a temp view (temp views
    * shadow catalog tables in Spark's resolution order; claiming one
    * would hijack it). */
  private def impliedTx(session: SparkSession, parts: Seq[String])
      : Option[(TxCatalog, org.apache.spark.sql.connector.catalog.Identifier)] =
    session.sessionState.catalogManager.currentCatalog match {
      case c: TxCatalog if parts.nonEmpty =>
        val isTemp =
          try session.sessionState.catalog.isTempView(parts)
          catch { case _: Exception => false }
        val id =
          if (parts.length == 1)
            org.apache.spark.sql.connector.catalog.Identifier.of(
              session.sessionState.catalogManager.currentNamespace,
              parts.head)
          else org.apache.spark.sql.connector.catalog.Identifier.of(
            parts.init.toArray, parts.last)
        if (!isTemp && (try c.tableExists(id)
                        catch { case _: Exception => false }))
          Some((c, id))
        else None
      case _ => None
    }

  /** Resolve a NAME-addressed target to its table root: explicitly
    * catalog-qualified (`cat.ns....tbl` whose head names a registered
    * [[TxCatalog]] — an unregistered table there is a loud
    * NoSuchTableException, the statement addresses OUR catalog), or
    * relative to the session's current catalog/namespace after
    * `USE gcat` ([[impliedTx]]). */
  private[graft] def namedRoot(session: SparkSession,
                               parts: Seq[String]): Option[String] =
    (if (parts.length < 2) None
     else txCatalogOf(session, parts.head).map(_.locationOf(
       org.apache.spark.sql.connector.catalog.Identifier.of(
         parts.tail.init.toArray, parts.last))))
      .orElse(impliedTx(session, parts).map { case (c, id) =>
        c.locationOf(id) })

  /** Claim a statement only when its TARGET table reference is
    * ``txlog.`...``` (the path surface) or a registered [[TxCatalog]]
    * name (`cat.ns.tbl`) at the verb's own target position — never
    * because the text mentions txlog somewhere else (a MERGE into a
    * non-txlog target USING a txlog source, or a string literal naming
    * txlog.`…`, must delegate to Spark untouched). Tokenizer failures
    * here mean "not ours" — Spark's parser owns the error for unclaimed
    * text. */
  private def claims(session: SparkSession, text: String): Boolean =
    try {
      val toks = tokenize(text)
      def isW(i: Int, k: String): Boolean =
        i < toks.length && toks(i).kind == 0 && toks(i).text.equalsIgnoreCase(k)
      // txlog . `…` — the backtick (kind 1) is load-bearing: a catalog
      // database literally named "txlog" (bare-word table part) keeps
      // resolving through the catalog
      def isTxRef(i: Int): Boolean =
        isW(i, "txlog") && i + 2 < toks.length &&
          toks(i + 1).kind == 3 && toks(i + 1).text == "." &&
          toks(i + 2).kind == 1
      // cat.ns....tbl — a dotted bare identifier whose HEAD names a
      // registered TxCatalog (checked against the live catalog manager,
      // so `spark_catalog.db.t` and friends always delegate)
      def isNamedTx(i: Int): Boolean = {
        if (i >= toks.length || (toks(i).kind != 0 && toks(i).kind != 1))
          return false
        var j = i + 1
        val parts = Vector.newBuilder[String]
        parts += toks(i).text
        var n = 1
        while (j + 1 < toks.length && toks(j).kind == 3 &&
            toks(j).text == "." &&
            (toks(j + 1).kind == 0 || toks(j + 1).kind == 1)) {
          parts += toks(j + 1).text
          n += 1; j += 2
        }
        // explicitly catalog-qualified (claim even if unregistered —
        // the loud NoSuchTable is OURS), or resolvable against the
        // session's CURRENT TxCatalog after USE (existence-gated, so a
        // bare name that isn't ours delegates to Spark untouched)
        (n >= 2 && txCatalogOf(session, toks(i).text).isDefined) ||
          impliedTx(session, parts.result()).isDefined
      }
      if (toks.isEmpty || toks.head.kind != 0) false
      else toks.head.text.toUpperCase match {
        // every supported verb puts its target at token 1 (VACUUM x,
        // UPDATE x, OPTIMIZE x) or 2 (MERGE INTO x, DELETE FROM x,
        // RESTORE TABLE x, DESCRIBE HISTORY x, SHOW PARTITIONS x, ALTER
        // TABLE x) — a txlog PATH ref at either position means the
        // statement addresses a txlog table (possibly with a typo'd
        // keyword, which parseStatement then reports loudly); a ref any
        // later (a MERGE source, a subquery) belongs to Spark. NAMED
        // targets claim strictly per-verb so plain Spark statements on
        // catalog tables (DESCRIBE TABLE, SHOW TABLES) keep delegating.
        case v @ ("MERGE" | "UPDATE" | "DELETE" | "RESTORE" |
                  "DESCRIBE" | "DESC" | "VACUUM" | "OPTIMIZE" |
                  "SHOW" | "ALTER") =>
          isTxRef(1) || isTxRef(2) || (v match {
            case "MERGE"    => isW(1, "INTO") && isNamedTx(2)
            case "UPDATE"   => isNamedTx(1)
            case "DELETE"   => isW(1, "FROM") && isNamedTx(2)
            case "RESTORE"  => isNamedTx(1) ||
                               (isW(1, "TABLE") && isNamedTx(2))
            case "DESCRIBE" | "DESC" =>
              (isW(1, "HISTORY") || isW(1, "DETAIL")) && isNamedTx(2)
            case "VACUUM"   => isNamedTx(1)
            case "OPTIMIZE" => isNamedTx(1)
            case "SHOW"     => isW(1, "PARTITIONS") && isNamedTx(2)
            case "ALTER"    => isW(1, "TABLE") && isNamedTx(2) &&
              // only the DDL set this engine supports — any other ALTER
              // on a catalog table (SET TBLPROPERTIES...) delegates to
              // Spark's own resolution
              (0 until toks.length - 1).exists(j =>
                (isW(j, "RENAME") && isW(j + 1, "COLUMN")) ||
                (isW(j, "DROP") && isW(j + 1, "COLUMN")) ||
                (isW(j, "ADD") && (isW(j + 1, "COLUMN") ||
                                   isW(j + 1, "COLUMNS"))) ||
                (isW(j, "ADD") && isW(j + 1, "CONSTRAINT")) ||
                (isW(j, "DROP") && isW(j + 1, "CONSTRAINT")))
            case _          => false
          })
        case "CONVERT" => isW(1, "TO") && isW(2, "TXLOG")
        // CREATE [OR REPLACE] TABLE [IF NOT EXISTS] txlog.`path` and
        // REPLACE TABLE txlog.`path` — the PATH spellings only; named
        // forms (cat.ns.t) belong to Spark → TxCatalog's staging surface
        case "CREATE" =>
          (isW(1, "TABLE") &&
            (isTxRef(2) ||
              (isW(2, "IF") && isW(3, "NOT") && isW(4, "EXISTS") &&
                isTxRef(5)))) ||
          (isW(1, "OR") && isW(2, "REPLACE") && isW(3, "TABLE") &&
            isTxRef(4))
        case "REPLACE" => isW(1, "TABLE") && isTxRef(2)
        case _ => false
      }
    } catch { case _: IllegalArgumentException => false }

  def maybeParse(session: SparkSession, text: String): Option[LogicalPlan] =
    if (claims(session, text)) Some(parseStatement(session, text)) else None

  /** The statement's target table root: ``txlog.`/path``` (the path
    * surface) or a `cat.ns.tbl` name resolved through its [[TxCatalog]]
    * — one front-door routing for both addresses. */
  private def tableRoot(session: SparkSession, p: P): String =
    if (p.isTxPathRef) p.txTable()
    else {
      var parts = Vector(p.ident())
      while (p.isSym(".")) { p.sym("."); parts :+= p.ident() }
      namedRoot(session, parts).getOrElse(fail(
        s"[${parts.mkString(".")}] does not resolve through a txlog " +
          "catalog — neither explicitly (cat.ns.tbl with " +
          "spark.sql.catalog.<cat> = graft.plans.TxCatalog) nor against " +
          "the session's current catalog (USE <cat>) — and is not a " +
          "txlog.`/path` reference"))
    }

  // ---- tokenizer ---------------------------------------------------------
  // kinds: 0 word (ident/keyword/number), 1 backtick ident (text = inner),
  // 2 string literal (text = raw incl quotes), 3 symbol char
  private final case class Tok(kind: Int, text: String, start: Int, end: Int)

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"txlog SQL: $msg")

  private def tokenize(s: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '\'') {
        val st = i; i += 1
        while (i < n && (s.charAt(i) != '\'' ||
            (i + 1 < n && s.charAt(i + 1) == '\'' && { i += 1; true })))
          i += 1
        if (i >= n) fail("unterminated string literal")
        i += 1
        out += Tok(2, s.substring(st, i), st, i)
      } else if (c == '`') {
        val st = i; i += 1
        val sb = new StringBuilder
        var closed = false
        while (i < n && !closed) {
          val d = s.charAt(i)
          if (d == '`') {
            if (i + 1 < n && s.charAt(i + 1) == '`') { sb += '`'; i += 2 }
            else { closed = true; i += 1 }
          } else { sb += d; i += 1 }
        }
        if (!closed) fail("unterminated backtick identifier")
        out += Tok(1, sb.toString, st, i)
      } else if (c.isLetterOrDigit || c == '_') {
        val st = i
        while (i < n && (s.charAt(i).isLetterOrDigit || s.charAt(i) == '_'))
          i += 1
        out += Tok(0, s.substring(st, i), st, i)
      } else {
        out += Tok(3, c.toString, i, i + 1)
        i += 1
      }
    }
    out.result()
  }

  // ---- statement parser ----------------------------------------------------
  private final class P(val text: String) {
    val toks: Vector[Tok] = tokenize(text)
    var i = 0
    def eof: Boolean = i >= toks.length
    def peek: Tok = if (eof) fail(s"unexpected end of statement") else toks(i)
    def isKw(k: String): Boolean =
      !eof && toks(i).kind == 0 && toks(i).text.equalsIgnoreCase(k)
    def kw(k: String): Unit =
      if (isKw(k)) i += 1 else fail(s"expected $k at: ${rest()}")
    def tryKw(k: String): Boolean = { val ok = isKw(k); if (ok) i += 1; ok }
    def sym(c: String): Unit =
      if (!eof && toks(i).kind == 3 && toks(i).text == c) i += 1
      else fail(s"expected '$c' at: ${rest()}")
    def isSym(c: String): Boolean =
      !eof && toks(i).kind == 3 && toks(i).text == c
    def rest(): String =
      if (eof) "<end>" else text.substring(toks(i).start).take(60)

    /** the cursor points at ``txlog.`…``` (the PATH-surface table ref —
      * the backtick distinguishes it from a catalog named "txlog"). */
    def isTxPathRef: Boolean =
      isKw("txlog") && i + 2 < toks.length &&
        toks(i + 1).kind == 3 && toks(i + 1).text == "." &&
        toks(i + 2).kind == 1

    /** ``txlog.`/root``` — the table reference. */
    def txTable(): String = {
      kw("txlog"); sym(".")
      val t = peek
      if (t.kind != 1) fail("table root must be a backtick-quoted path " +
        "(txlog.`/path/to/table`)")
      i += 1
      t.text
    }

    /** identifier (bare word or backticked). */
    def ident(): String = {
      val t = peek
      if (t.kind == 0 || t.kind == 1) { i += 1; t.text }
      else fail(s"expected identifier at: ${rest()}")
    }

    /** string literal, unquoted ('' unescapes to '). */
    def strLit(): String = {
      val t = peek
      if (t.kind != 2) fail(s"expected a string literal at: ${rest()}")
      i += 1
      t.text.substring(1, t.text.length - 1).replace("''", "'")
    }

    /** TBLPROPERTIES key: a string literal or a dotted identifier
      * (`graft.vacuum.retentionMs` tokenizes as ident '.' ident ...). */
    def propKey(): String = {
      if (!eof && peek.kind == 2) return strLit()
      val sb = new StringBuilder(ident())
      while (isSym(".")) { i += 1; sb += '.'; sb ++= ident() }
      sb.toString
    }

    /** original-text slice from token `from` (inclusive) to token `until`
      * (exclusive). */
    def slice(from: Int, until: Int): String = {
      require(until > from, "empty expression")
      text.substring(toks(from).start, toks(until - 1).end).trim
    }

    /** advance to the first TOP-LEVEL position where `stop` matches the
      * current token; returns (startIdx, endIdx) of the skipped span.
      * Top-level = paren depth 0 AND outside any CASE ... END — a CASE
      * expression's own WHEN/THEN keywords must not terminate a MERGE
      * clause span (`SET v = CASE WHEN ... THEN ... END` is legal
      * expression text). */
    def spanUntil(stop: () => Boolean): (Int, Int) = {
      val st = i
      var depth = 0
      var caseDepth = 0
      while (!eof && !(depth == 0 && caseDepth == 0 && stop())) {
        if (isSym("(")) depth += 1
        else if (isSym(")")) {
          depth -= 1
          if (depth < 0) fail(s"unbalanced ')' at: ${rest()}")
        }
        else if (isKw("CASE")) caseDepth += 1
        else if (isKw("END")) {
          caseDepth -= 1
          if (caseDepth < 0) fail(s"END without CASE at: ${rest()}")
        }
        i += 1
      }
      (st, i)
    }
  }

  private def attr(name: String, dt: DataType): Attribute =
    AttributeReference(name, dt, nullable = false)()

  private def parseStatement(session: SparkSession, text: String)
      : LogicalPlan = {
    val p = new P(text)
    if (p.tryKw("MERGE")) parseMerge(session, p)
    else if (p.tryKw("UPDATE")) parseUpdate(session, p)
    else if (p.tryKw("DELETE")) parseDelete(session, p)
    else if (p.tryKw("RESTORE")) parseRestore(session, p)
    else if (p.tryKw("DESCRIBE") || p.tryKw("DESC")) parseDescribe(session, p)
    else if (p.tryKw("VACUUM")) parseVacuum(session, p)
    else if (p.tryKw("OPTIMIZE")) parseOptimize(session, p)
    else if (p.tryKw("CONVERT")) parseConvert(session, p)
    else if (p.tryKw("SHOW")) parseShow(session, p)
    else if (p.tryKw("ALTER")) parseAlter(session, p)
    else if (p.tryKw("CREATE")) parseCreate(session, p,
      replaceVerb = false)
    else if (p.tryKw("REPLACE")) parseCreate(session, p,
      replaceVerb = true)
    else fail(s"unsupported txlog statement: ${p.rest()}")
  }

  // ALTER TABLE txlog.`root`
  //   RENAME COLUMN a TO b            -> TxLog.renameColumnTx
  //   DROP COLUMN a                   -> TxLog.dropColumnTx
  //   ADD COLUMN a type               -> TxLog.addColumnTx
  //   ADD COLUMNS (a type, b type)    -> TxLog.addColumnsTx (one commit)
  //   ADD CONSTRAINT name CHECK (e)   -> TxLog.addCheckConstraintTx
  //   DROP CONSTRAINT name            -> TxLog.dropCheckConstraintTx
  //   SET TBLPROPERTIES ('k'='v',...) -> TxLog.setTablePropertiesTx
  //   UNSET TBLPROPERTIES ('k',...)   -> TxLog.unsetTablePropertiesTx
  // — the SQL twins of the Scala DDL-evolution front doors (metadata-only
  // commits; one implementation, two surfaces). The NAME-surface
  // SET/UNSET TBLPROPERTIES goes through Spark's own parser →
  // TxCatalog.alterTable(SetProperty/RemoveProperty) — not claimed here.
  private def parseAlter(session: SparkSession, p: P): LogicalPlan = {
    p.kw("TABLE")
    val root = tableRoot(session, p)
    val body: SparkSession => Long =
      if (p.tryKw("RENAME")) {
        p.kw("COLUMN")
        val from = p.ident()
        p.kw("TO")
        val to = p.ident()
        s => TxLog.renameColumnTx(s, root, from, to)
      } else if (p.tryKw("ADD")) {
        if (p.tryKw("COLUMN")) {
          // ADD COLUMN name <type to end of statement>
          val name = p.ident()
          val st = p.i
          if (p.eof) fail(s"ADD COLUMN $name: missing data type")
          while (!p.eof) p.i += 1
          val ddl = p.slice(st, p.i)
          s => TxLog.addColumnTx(s, root, name,
            s.sessionState.sqlParser.parseDataType(ddl))
        } else if (p.tryKw("COLUMNS")) {
          // ADD COLUMNS (a type, b type, ...) — ONE metadata commit
          if (!p.isSym("(")) fail("ADD COLUMNS expects (name type, ...)")
          val st = p.i
          p.spanUntilBalanced()
          val inner = p.slice(st + 1, p.i - 1)
          s => {
            val fields = org.apache.spark.sql.types.StructType
              .fromDDL(inner)
            TxLog.addColumnsTx(s, root,
              fields.map(f => f.name -> f.dataType).toSeq)
          }
        } else {
          p.kw("CONSTRAINT")
          val name = p.ident()
          p.kw("CHECK")
          val st = p.i
          p.spanUntilBalanced()
          val e = p.slice(st + 1, p.i - 1)
          s => TxLog.addCheckConstraintTx(s, root, name, e)
        }
      } else if (p.tryKw("DROP")) {
        if (p.tryKw("COLUMN")) {
          val name = p.ident()
          s => TxLog.dropColumnTx(s, root, name)
        } else {
          p.kw("CONSTRAINT")
          val name = p.ident()
          s => TxLog.dropCheckConstraintTx(s, root, name)
        }
      } else if (p.tryKw("SET")) {
        // SET TBLPROPERTIES ('k' = 'v', ...) — one metadata commit
        // merging into the recorded set ([[TxLog.setTablePropertiesTx]])
        p.kw("TBLPROPERTIES")
        val props = parseKvList(p)
        s => TxLog.setTablePropertiesTx(s, root, props)
      } else if (p.tryKw("UNSET")) {
        // UNSET TBLPROPERTIES ('k', ...) — absent keys are a no-op
        p.kw("TBLPROPERTIES")
        p.sym("(")
        val keys = Seq.newBuilder[String]
        var more = true
        while (more) {
          keys += p.propKey()
          more = p.isSym(",")
          if (more) p.i += 1
        }
        p.sym(")")
        val ks = keys.result()
        s => TxLog.unsetTablePropertiesTx(s, root, ks)
      } else fail("ALTER TABLE on txlog tables supports RENAME COLUMN, " +
        s"DROP COLUMN, ADD COLUMN name type, ADD COLUMNS (...), " +
        s"ADD CONSTRAINT ... CHECK (...), DROP CONSTRAINT, " +
        s"SET TBLPROPERTIES (...), UNSET TBLPROPERTIES (...) — " +
        s"got: ${p.rest()}")
    if (!p.eof) fail(s"trailing input after ALTER TABLE: ${p.rest()}")
    TxSqlCommand(Seq(attr("version", LongType)),
      s => Seq(Row(body(s))))
  }

  /** `('k' = 'v', ...)` — the TBLPROPERTIES kv list (keys are string
    * literals or dotted identifiers; values string literals or bare
    * words/numbers). */
  private def parseKvList(p: P): Map[String, String] = {
    p.sym("(")
    val kvs = Map.newBuilder[String, String]
    var more = true
    while (more) {
      val k = p.propKey()
      p.sym("=")
      val v =
        if (!p.eof && p.peek.kind == 2) p.strLit()
        else p.ident() // bare number/word values
      kvs += k -> v
      more = p.isSym(",")
      if (more) p.i += 1
    }
    p.sym(")")
    kvs.result()
  }

  // The PATH spellings of table creation and replacement (named forms
  // go through Spark's own parser → TxCatalog's staging surface):
  //
  //   CREATE TABLE [IF NOT EXISTS] txlog.`root` (cols)
  //     [USING txlog] PARTITIONED BY (...) [TBLPROPERTIES (...)]
  //       → TxLog.createTableTx (declared-schema create commit)
  //   CREATE TABLE [IF NOT EXISTS] txlog.`root`
  //     [USING txlog] PARTITIONED BY (...) [TBLPROPS] AS <query>
  //       → createTableTx(query schema) + one append commit (path CTAS)
  //   CREATE OR REPLACE TABLE txlog.`root` ... [AS <query>]
  //   REPLACE TABLE txlog.`root` ... [AS <query>]
  //       → TxLog.replaceTableTx — ONE whole-table-state commit; the
  //         no-query form records a declared-schema-only replacement;
  //         bare REPLACE refuses on a missing table, OR REPLACE creates
  private def parseCreate(session: SparkSession, p: P,
                          replaceVerb: Boolean): LogicalPlan = {
    val orReplace = !replaceVerb && p.tryKw("OR") && {
      p.kw("REPLACE"); true
    }
    val replace = replaceVerb || orReplace
    p.kw("TABLE")
    val ifNotExists =
      if (!replace && p.tryKw("IF")) {
        p.kw("NOT"); p.kw("EXISTS"); true
      } else false
    val root = tableRoot(session, p)
    val colsDDL: Option[String] =
      if (p.isSym("(")) {
        val st = p.i
        p.spanUntilBalanced()
        Some(p.slice(st + 1, p.i - 1))
      } else None
    if (p.tryKw("USING")) {
      val prov = p.ident()
      if (!prov.equalsIgnoreCase("txlog"))
        fail(s"CREATE/REPLACE TABLE txlog.`path` USING $prov — the " +
          "path spelling is txlog-only")
    }
    p.kw("PARTITIONED")
    p.kw("BY")
    p.sym("(")
    val parts = Seq.newBuilder[String]
    var more = true
    while (more) {
      parts += p.ident()
      more = p.isSym(",")
      if (more) p.i += 1
    }
    p.sym(")")
    val partCols = parts.result()
    val props = if (p.tryKw("TBLPROPERTIES")) parseKvList(p)
                else Map.empty[String, String]
    val query: Option[String] =
      if (p.tryKw("AS")) {
        val st = p.i
        while (!p.eof) p.i += 1
        Some(p.slice(st, p.i))
      } else None
    if (!p.eof)
      fail(s"trailing input after CREATE/REPLACE TABLE: ${p.rest()}")
    if (query.isDefined && colsDDL.isDefined)
      fail("CREATE/REPLACE TABLE txlog.`path`: declare a column list OR " +
        "provide AS <query> — the query's schema IS the declaration")
    if (query.isEmpty && colsDDL.isEmpty)
      fail("CREATE/REPLACE TABLE txlog.`path` needs a declared column " +
        "list (name type, ...) or AS <query> — a tx table's create/" +
        "replace commit records the schema; to adopt existing data use " +
        "CONVERT TO TXLOG")
    TxSqlCommand(Seq(attr("version", LongType)), s => {
      def declared = org.apache.spark.sql.types.StructType
        .fromDDL(colsDDL.get)
      (replace, query) match {
        case (true, q) =>
          if (replaceVerb && !TxLog.tableExists(s, root))
            sys.error(s"REPLACE TABLE: no table at $root — use CREATE " +
              "OR REPLACE to create it")
          val df = q.map(s.sql).getOrElse(s.createDataFrame(
            java.util.Collections.emptyList[Row](), declared))
          Seq(Row(TxLog.replaceTableTx(df, root, partCols, props)))
        case (false, Some(q)) => // path CTAS: create commit + data commit
          if (ifNotExists && TxLog.tableExists(s, root))
            Seq(Row(TxLog.currentVersion(s, root)))
          else {
            val df = s.sql(q)
            TxLog.createTableTx(s, root, df.schema, partCols, props): Unit
            Seq(Row(TxLog.commit(s, root,
              TxLog.stage(df, root, partCols, Nil, 0), "append",
              readVersion = 0L)))
          }
        case (false, None) =>
          if (ifNotExists && TxLog.tableExists(s, root))
            Seq(Row(TxLog.currentVersion(s, root))) // no-op
          else
            Seq(Row(TxLog.createTableTx(s, root, declared, partCols,
              props)))
      }
    })
  }

  // MERGE INTO txlog.`root` [AS] t USING <src> [AS] s ON t.k = s.k WHEN ...
  private def parseMerge(session: SparkSession, p: P): LogicalPlan = {
    p.kw("INTO")
    val root = tableRoot(session, p)
    requireAlias(p, "t", "target")
    p.kw("USING")
    // source: (subquery) or a table/view identifier
    val source: SparkSession => org.apache.spark.sql.DataFrame =
      if (p.isSym("(")) {
        val st = p.i
        p.spanUntilBalanced()
        val inner = p.slice(st + 1, p.i - 1)
        s => s.sql(inner)
      } else {
        val sb = new StringBuilder(p.ident())
        while (p.isSym(".")) { p.sym("."); sb.append('.').append(p.ident()) }
        val name = sb.toString
        s => s.table(name)
      }
    requireAlias(p, "s", "source")
    p.kw("ON")
    val (onSt, onEnd) = p.spanUntil(() => p.isKw("WHEN"))
    val key = mergeKeyOf(p, onSt, onEnd)
    var whenMatched = Vector.empty[TxLog.MergeClause]
    var whenNot = Vector.empty[TxLog.MergeClause]
    while (p.tryKw("WHEN")) {
      val not = p.tryKw("NOT")
      p.kw("MATCHED")
      val cond: Option[String] =
        if (p.tryKw("AND")) {
          val (st, end) = p.spanUntil(() => p.isKw("THEN"))
          Some(p.slice(st, end))
        } else None
      p.kw("THEN")
      if (not) {
        p.kw("INSERT")
        if (!p.isSym("*")) fail("WHEN NOT MATCHED supports INSERT * only")
        p.sym("*")
        whenNot :+= TxLog.MergeClause.insertAll(cond)
      } else if (p.tryKw("DELETE")) {
        whenMatched :+= TxLog.MergeClause.delete(cond)
      } else {
        p.kw("UPDATE"); p.kw("SET")
        if (p.isSym("*")) {
          p.sym("*")
          whenMatched :+= TxLog.MergeClause.updateAll(cond)
        } else {
          whenMatched :+= TxLog.MergeClause.update(
            parseAssignmentsText(p, () => p.isKw("WHEN")), cond)
        }
      }
    }
    if (!p.eof) fail(s"trailing input after MERGE: ${p.rest()}")
    TxSqlCommand(Seq(attr("version", LongType)), s =>
      Seq(Row(TxLog.mergeClausesTx(s, root, source(s), key,
        whenMatched, whenNot,
        // opt-in MERGE schema evolution (the Delta autoMerge conf
        // shape): a wider source declares its extra columns first
        autoEvolve = s.conf.getOption("graft.txlog.mergeEvolve")
          .exists(_.toBoolean)))))
  }

  /** consume a balanced (...) group the cursor points at. */
  implicit private class Pext(p: P) {
    def spanUntilBalanced(): Unit = {
      p.sym("(")
      var depth = 1
      while (depth > 0) {
        if (p.eof) fail("unbalanced '(' — the statement ended inside a " +
          "parenthesized group")
        if (p.isSym("(")) depth += 1
        else if (p.isSym(")")) depth -= 1
        p.i += 1
      }
    }
  }

  /** [AS] alias — REQUIRED to be the fixed name the merge rewrite binds
    * clause expressions against. */
  private def requireAlias(p: P, want: String, side: String): Unit = {
    p.tryKw("AS")
    if (p.isKw("USING") || p.isKw("ON") || p.isKw("WHEN")) {
      fail(s"MERGE requires an explicit $side alias `$want` — clause " +
        s"expressions bind against it (write: ... $want)")
    }
    val a = p.ident()
    if (!a.equalsIgnoreCase(want))
      fail(s"MERGE $side alias must be `$want` (clause expressions bind " +
        s"against the fixed t/s aliases), got `$a`")
  }

  /** the ON condition must be a single equi-key `t.k = s.k` (the
    * file-granular merge key [[TxLog.mergeClausesTx]] takes). */
  private def mergeKeyOf(p: P, st: Int, end: Int): String = {
    val toks = p.toks.slice(st, end)
    def side(ts: Vector[Tok]): String = ts match {
      case Vector(q, dot, c)
        if q.kind == 0 && dot.kind == 3 && dot.text == "." &&
          (c.kind == 0 || c.kind == 1) =>
        if (!q.text.equalsIgnoreCase("t") && !q.text.equalsIgnoreCase("s"))
          fail(s"ON qualifier must be t or s, got ${q.text}")
        c.text
      case Vector(c) if c.kind == 0 || c.kind == 1 => c.text
      case _ => fail("ON condition must be a single equi-key: " +
        "t.<col> = s.<col>")
    }
    val eq = toks.indexWhere(t => t.kind == 3 && t.text == "=")
    if (eq < 0) fail("ON condition must be a single equi-key: " +
      "t.<col> = s.<col>")
    val l = side(toks.take(eq))
    val r = side(toks.drop(eq + 1))
    if (l != r) fail(s"ON keys must name the same column on both sides " +
      s"(got $l = $r) — the merge key is one shared column")
    l
  }

  /** `a = <expr>, b = <expr>, ...` — expressions as raw text slices,
    * split at top-level commas; ends at `stop` or end of input. */
  private def parseAssignmentsText(p: P, stop: () => Boolean)
      : Map[String, String] = {
    var out = Map.empty[String, String]
    var more = true
    while (more) {
      val c = p.ident()
      p.sym("=")
      val (st, end) = p.spanUntil(() =>
        stop() || (p.isSym(",")))
      out += c -> p.slice(st, end)
      if (p.isSym(",")) p.sym(",") else more = false
    }
    if (out.isEmpty) fail("SET needs at least one assignment")
    out
  }

  // UPDATE txlog.`root` SET a = e, ... [WHERE cond]
  private def parseUpdate(session: SparkSession, p: P): LogicalPlan = {
    val root = tableRoot(session, p)
    p.kw("SET")
    val sets = parseAssignmentsText(p, () => p.isKw("WHERE"))
    val cond =
      if (p.tryKw("WHERE")) {
        val (st, end) = p.spanUntil(() => false)
        expr(p.slice(st, end))
      } else lit(true)
    TxSqlCommand(
      Seq(attr("version", LongType), attr("files_rewritten", IntegerType)),
      s => {
        val (v, nf) = TxLog.updateWhereTx(s, root, cond,
          sets.map { case (c, e) => c -> expr(e) })
        Seq(Row(v, nf))
      })
  }

  // DELETE FROM txlog.`root` [WHERE cond]
  private def parseDelete(session: SparkSession, p: P): LogicalPlan = {
    p.kw("FROM")
    val root = tableRoot(session, p)
    val cond =
      if (p.tryKw("WHERE")) {
        val (st, end) = p.spanUntil(() => false)
        expr(p.slice(st, end))
      } else lit(true)
    TxSqlCommand(
      Seq(attr("version", LongType), attr("files_rewritten", IntegerType)),
      s => {
        val (v, nf) = TxLog.deleteWhereTx(s, root, cond)
        Seq(Row(v, nf))
      })
  }

  // RESTORE [TABLE] txlog.`root` TO VERSION AS OF n
  private def parseRestore(session: SparkSession, p: P): LogicalPlan = {
    p.tryKw("TABLE")
    val root = tableRoot(session, p)
    p.kw("TO")
    if (p.tryKw("VERSION")) {
      p.kw("AS"); p.kw("OF")
      val v = p.ident()
      val version =
        try v.toLong catch { case _: NumberFormatException =>
          fail(s"VERSION AS OF needs an integer version, got $v") }
      if (!p.eof) fail(s"trailing input after RESTORE: ${p.rest()}")
      TxSqlCommand(Seq(attr("version", LongType)),
        s => Seq(Row(TxLog.restoreTx(s, root, version))))
    } else {
      // RESTORE ... TO TIMESTAMP AS OF '<ts|epoch-millis>' — wall-clock
      // keyed restore (the same tsOptionMillis contract as the reader's
      // timestampAsOf option: digits = epoch millis, else a session-TZ
      // timestamp/date string)
      p.kw("TIMESTAMP"); p.kw("AS"); p.kw("OF")
      val ts =
        if (!p.eof && p.peek.kind == 2) p.strLit() else p.ident()
      if (!p.eof) fail(s"trailing input after RESTORE: ${p.rest()}")
      TxSqlCommand(Seq(attr("version", LongType)),
        s => Seq(Row(TxLog.restoreTx(s, root,
          TxLog.versionAsOf(s, root, TxLog.tsOptionMillis(s, ts))))))
    }
  }

  // DESCRIBE HISTORY|DETAIL txlog.`root`
  private def parseDescribe(session: SparkSession, p: P): LogicalPlan = {
    val df =
      if (p.tryKw("HISTORY")) TxLog.history(session, tableRoot(session, p))
      else if (p.tryKw("DETAIL")) TxLog.tableDetail(session, tableRoot(session, p))
      else fail("DESCRIBE on txlog tables supports HISTORY and DETAIL")
    if (!p.eof) fail(s"trailing input after DESCRIBE: ${p.rest()}")
    df.queryExecution.logical
  }

  // CONVERT TO TXLOG parquet.`dir` PARTITIONED BY (a, b) — adopt an
  // existing Hive-partitioned parquet dir in place (TxLog.convertParquetTx)
  private def parseConvert(session: SparkSession, p: P): LogicalPlan = {
    p.kw("TO"); p.kw("TXLOG"); p.kw("parquet"); p.sym(".")
    val t = p.peek
    if (t.kind != 1) fail("CONVERT source must be a backtick-quoted " +
      "path (parquet.`/dir`)")
    p.i += 1
    val root = t.text
    p.kw("PARTITIONED"); p.kw("BY"); p.sym("(")
    var cols = Vector(p.ident())
    while (p.isSym(",")) { p.sym(","); cols :+= p.ident() }
    p.sym(")")
    if (!p.eof) fail(s"trailing input after CONVERT: ${p.rest()}")
    TxSqlCommand(Seq(attr("version", LongType)),
      s => Seq(Row(TxLog.convertParquetTx(s, root, cols))))
  }

  // OPTIMIZE txlog.`root` [SMALLFILES n] — the one-call maintenance
  // bundle (TxLog.maintainTx: dv-aware bin-pack + checkpoint + log
  // expiry + vacuum); n = the small-file byte threshold (default 128 MB)
  private def parseOptimize(session: SparkSession, p: P): LogicalPlan = {
    val root = tableRoot(session, p)
    // OPTIMIZE ... ZORDER BY (k1, k2[, ...]) [FILES n] — the
    // multi-dimensional clustering rewrite (TxLog.compactZorderTx)
    if (p.tryKw("ZORDER")) {
      p.kw("BY"); p.sym("(")
      var keys = Vector(p.ident())
      while (p.isSym(",")) { p.sym(","); keys :+= p.ident() }
      p.sym(")")
      val files =
        if (p.tryKw("FILES")) {
          val n = p.ident()
          try n.toInt catch { case _: NumberFormatException =>
            fail(s"FILES needs a count, got $n") }
        } else 0
      if (!p.eof) fail(s"trailing input after OPTIMIZE: ${p.rest()}")
      return TxSqlCommand(Seq(attr("version", LongType)),
        s => {
          val pc = TxLog.tableMeta(s, root)._2.head.name
          val nf = if (files > 0) files
                   else s.sessionState.conf.numShufflePartitions
          Seq(Row(TxLog.compactZorderTx(s, root, pc, keys, nf)))
        })
    }
    // OPTIMIZE ... [WHERE <partCol> = 'v' | IN ('a','b') | >= 'v' ...]
    // — partition-scoped compaction (the warehouse-scale shape: compact
    // yesterday, not the table). The predicate is over the PARTITION
    // column's raw value; comparisons are lexicographic (zero-padded
    // dates order correctly).
    val where: Option[(String, String => Boolean)] =
      if (p.tryKw("WHERE")) {
        val colName = p.ident()
        if (p.tryKw("IN")) {
          p.sym("(")
          val vals = Set.newBuilder[String]
          var more = true
          while (more) {
            vals += (if (!p.eof && p.peek.kind == 2) p.strLit()
                     else p.ident())
            more = p.isSym(",")
            if (more) p.i += 1
          }
          p.sym(")")
          val set = vals.result()
          Some((colName, set.contains))
        } else {
          // comparison operator: one of = < > <= >=
          val c1 = { val t = p.peek
            if (t.kind != 3 || !"=<>".contains(t.text))
              fail(s"OPTIMIZE WHERE supports =, <, >, <=, >=, IN — " +
                s"at: ${p.rest()}")
            p.i += 1; t.text }
          val op = if ((c1 == "<" || c1 == ">") && p.isSym("=")) {
            p.i += 1; c1 + "="
          } else c1
          val v = if (!p.eof && p.peek.kind == 2) p.strLit() else p.ident()
          val pred: String => Boolean = op match {
            case "="  => _ == v
            case "<"  => _ < v
            case ">"  => _ > v
            case "<=" => _ <= v
            case ">=" => _ >= v
          }
          Some((colName, pred))
        }
      } else None
    val smallBytes =
      if (p.tryKw("SMALLFILES")) {
        val n = p.ident()
        try n.toLong catch { case _: NumberFormatException =>
          fail(s"SMALLFILES needs a byte count, got $n") }
      } else 134217728L
    if (!p.eof) fail(s"trailing input after OPTIMIZE: ${p.rest()}")
    TxSqlCommand(
      Seq(attr("version", LongType), attr("files_packed", LongType),
        attr("checkpoint_version", LongType),
        attr("log_files_expired", LongType),
        attr("data_files_vacuumed", LongType)),
      s => {
        val pc = TxLog.tableMeta(s, root)._2.head.name
        val select = where
          .map { case (c, f) => TxLog.partitionSelect(s, root, c)(f) }
          .getOrElse((_: String) => true)
        TxLog.maintainTx(s, root, pc, smallBytes, select = select)
          .collect().toSeq
      })
  }

  // SHOW PARTITIONS txlog.`root` — the live composite partition keys
  // (metadata only; payload-derived above the header cap).
  // SHOW TBLPROPERTIES txlog.`root` — the recorded property set (the
  // NAME spelling delegates to Spark, which reads
  // TxNamedTable.properties()).
  private def parseShow(session: SparkSession, p: P): LogicalPlan = {
    if (p.tryKw("TBLPROPERTIES")) {
      val root = tableRoot(session, p)
      if (!p.eof)
        fail(s"trailing input after SHOW TBLPROPERTIES: ${p.rest()}")
      return TxSqlCommand(
        Seq(attr("key", org.apache.spark.sql.types.StringType),
          attr("value", org.apache.spark.sql.types.StringType)),
        s => TxLog.tableProperties(s, root).toSeq.sorted
          .map { case (k, v) => Row(k, v) })
    }
    p.kw("PARTITIONS")
    val root = tableRoot(session, p)
    if (!p.eof) fail(s"trailing input after SHOW PARTITIONS: ${p.rest()}")
    TxSqlCommand(
      Seq(attr("partition", org.apache.spark.sql.types.StringType)),
      s => TxLog.partitionValues(s, root).toSeq.sorted.map(Row(_)))
  }

  // VACUUM txlog.`root` [RETAIN n HOURS]
  private def parseVacuum(session: SparkSession, p: P): LogicalPlan = {
    val root = tableRoot(session, p)
    val minAgeMs =
      if (p.tryKw("RETAIN")) {
        val h = p.ident()
        val hours = try h.toLong catch { case _: NumberFormatException =>
          fail(s"RETAIN needs an integer hour count, got $h") }
        p.kw("HOURS")
        hours * 3600000L
      } else 3600000L
    // VACUUM ... DRY RUN — report what a wet run would reclaim, touch
    // nothing (the operator's pre-flight check before a zero-retention
    // vacuum)
    val dryRun = p.tryKw("DRY") && { p.kw("RUN"); true }
    if (!p.eof) fail(s"trailing input after VACUUM: ${p.rest()}")
    TxSqlCommand(Seq(attr(
      if (dryRun) "data_files_reclaimable" else "data_files_vacuumed",
      LongType)),
      s => Seq(Row(TxLog.vacuum(s, root, minAgeMs, dryRun).toLong)))
  }
}
