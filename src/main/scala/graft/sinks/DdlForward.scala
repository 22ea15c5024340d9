package graft.sinks

import java.sql.Connection

import graft.meta.{DdlStatement, TableDef}

/** Source-DDL → target-dialect ALTER forwarding — closes the
  * reference's declared-but-never-forwarded `DDLMsg` path
  * (`core/msg.go:49-53` defines the message; no output ever emits
  * it). Column-level statements (ADD / DROP / MODIFY / CHANGE /
  * RENAME COLUMN, TRUNCATE) are rewritten against the ROUTE'S TARGET
  * table and executed over one driver-side connection at the top of
  * the batch that carried the DDL — i.e. BEFORE the next DML batch
  * projects rows through the new shape. Anything a dialect can't
  * express returns None and the caller keeps the engine's default
  * evolution protocol (registry update + per-version restart,
  * SURVEY §3.2) — forwarding is an optimization gate, never a
  * correctness dependency.
  *
  * Positioning: AFTER/FIRST is honored where the dialect supports it
  * (MySQL family); elsewhere new columns append at the tail —
  * [[SqlGen]] binds by NAME, so ordinal placement on a SQL target is
  * cosmetic.
  *
  * Idempotence: foreachBatch is at-least-once, and the in-memory DDL
  * watermark does not survive a JVM restart — a crash between the
  * forwarded ALTER and the checkpoint commit replays the DDL. The
  * forwarder therefore probes the target's metadata first
  * ([[JdbcDdlForwarder.alreadyApplied]]): an ADD whose column
  * already exists (etc.) is a completed replay and succeeds as a
  * no-op instead of failing the restarted query on a duplicate-
  * column error.
  */
object DdlForward {
  import DdlStatement._

  /** Target dialect: identifier quoting, source→target type mapping,
    * capability flags. */
  final case class Dialect(
      name: String,
      quote: String => String,
      mapType: String => String,
      supportsPosition: Boolean,
      supportsModify: Boolean)

  private def backtick(id: String) = s"`${id.replace("`", "``")}`"
  private def doubleQuote(id: String) =
    "\"" + id.replace("\"", "\"\"") + "\""

  /** MySQL-family targets (MySQL; StarRocks/Doris accept the same
    * ALTER COLUMN surface): source types pass through verbatim. */
  val MySql: Dialect = Dialect("mysql", backtick, identity,
    supportsPosition = true, supportsModify = true)

  /** Derby — the in-process live target (SchemaEvolutionSpec's engine):
    * no column positioning, no general type MODIFY (only VARCHAR
    * widening, which stays on the restart fallback), MySQL types
    * mapped onto Derby's. */
  val Derby: Dialect = Dialect("derby", doubleQuote, derbyType,
    supportsPosition = false, supportsModify = false)

  def dialect(name: String): Dialect = name.toLowerCase match {
    case "mysql" | "starrocks" | "doris" => MySql
    case "derby" => Derby
    case other => sys.error(s"unknown DDL-forward dialect '$other'")
  }

  /** MySQL → Derby type mapping for forwarded ADDs. Unknown types
    * fall back to LONG VARCHAR (the lossless-text escape hatch). */
  private[sinks] def derbyType(raw: String): String = {
    val t = raw.trim.toLowerCase
    val base = t.takeWhile(c => c != '(' && c != ' ')
    base match {
      case "tinyint" | "smallint" => "SMALLINT"
      case "int" | "integer" | "mediumint" => "INTEGER"
      case "bigint" => "BIGINT"
      case "float" => "REAL"
      case "double" | "real" => "DOUBLE"
      case "decimal" | "numeric" => t.toUpperCase
      case "char" | "varchar" => t.toUpperCase
      case "text" | "tinytext" | "mediumtext" | "longtext" | "json" =>
        "LONG VARCHAR"
      case "date" => "DATE"
      case "datetime" | "timestamp" => "TIMESTAMP"
      case "time" => "TIME"
      case "blob" | "tinyblob" | "mediumblob" | "longblob" |
           "varbinary" | "binary" => "BLOB"
      case "boolean" | "bool" | "bit" => "BOOLEAN"
      case _ => "LONG VARCHAR"
    }
  }

  /** Render `stmt` as target-dialect ALTER statement(s) against
    * `target`, or None when the dialect can't express it (caller
    * falls back to per-version restart). */
  def alterSql(d: Dialect, target: TableDef,
      stmt: DdlStatement): Option[Seq[String]] = {
    val tbl =
      if (target.schema.nonEmpty)
        s"${d.quote(target.schema)}.${d.quote(target.name)}"
      else d.quote(target.name)
    def pos(p: Pos): String = p match {
      case First if d.supportsPosition => " FIRST"
      case After(c) if d.supportsPosition => s" AFTER ${d.quote(c)}"
      case _ => ""
    }
    stmt match {
      case AddColumn(_, c, p) => Some(Seq(
        s"ALTER TABLE $tbl ADD COLUMN ${d.quote(c.name)} " +
          s"${d.mapType(c.rawType)}${pos(p)}"))
      case DropColumn(_, c) => Some(Seq(
        s"ALTER TABLE $tbl DROP COLUMN ${d.quote(c)}"))
      case ModifyColumn(_, c, p) if d.supportsModify => Some(Seq(
        s"ALTER TABLE $tbl MODIFY COLUMN ${d.quote(c.name)} " +
          s"${d.mapType(c.rawType)}${pos(p)}"))
      case ChangeColumn(_, from, c, p) if d.supportsModify => Some(Seq(
        s"ALTER TABLE $tbl CHANGE COLUMN ${d.quote(from)} " +
          s"${d.quote(c.name)} ${d.mapType(c.rawType)}${pos(p)}"))
      case RenameColumn(_, from, to) =>
        // Derby's rename is a top-level statement, not an ALTER form
        if (d.name == "derby") Some(Seq(
          s"RENAME COLUMN $tbl.${d.quote(from)} TO ${d.quote(to)}"))
        else Some(Seq(
          s"ALTER TABLE $tbl RENAME COLUMN ${d.quote(from)} TO ${d.quote(to)}"))
      case TruncateTable(_) => Some(Seq(s"TRUNCATE TABLE $tbl"))
      // CREATE/DROP/RENAME TABLE and type changes on non-MODIFY
      // dialects: the restart protocol owns these
      case _ => None
    }
  }
}

/** Driver-side forwarder bound to one JDBC target. `forward` returns
  * true when the statement landed (or was a completed replay); false
  * means "not expressible here" and the caller falls back to the
  * per-version restart protocol. Transport failures PROPAGATE — the
  * batch must fail before its checkpoint commits, exactly like a DML
  * sink failure, so the DDL is retried on restart (where
  * `alreadyApplied` makes the retry a no-op if it had landed). */
final class JdbcDdlForwarder(connect: () => Connection,
    dialect: DdlForward.Dialect) {
  import DdlStatement._

  def forward(stmt: DdlStatement, target: TableDef): Boolean =
    DdlForward.alterSql(dialect, target, stmt) match {
      case None => false
      case Some(sqls) =>
        val conn = connect()
        try {
          if (!alreadyApplied(conn, stmt, target))
            sqls.foreach { s =>
              val st = conn.createStatement()
              try st.executeUpdate(s) finally st.close()
            }
          true
        } finally conn.close()
    }

  /** Case-insensitive metadata probe (Derby folds unquoted
    * identifiers to upper case; MySQL keeps them as created).
    * DatabaseMetaData.getColumns treats its arguments as LIKE
    * patterns, so `_`/`%` in identifiers must be escaped — an
    * unescaped probe for column `a_b` would match a sibling `acb`
    * and flip the replay-idempotence decision the wrong way. */
  private def columnExists(conn: Connection, target: TableDef,
      column: String): Boolean = {
    val md = conn.getMetaData
    val esc = Option(md.getSearchStringEscape).getOrElse("\\")
    def q(id: String): String = id
      .replace(esc, esc + esc)
      .replace("_", esc + "_")
      .replace("%", esc + "%")
    // Drivers disagree on whether a database maps to the CATALOG or
    // the SCHEMA position (MySQL Connector/J defaults
    // databaseTerm=CATALOG and ignores schemaPattern; Derby/Postgres
    // use the schema position). Probe both positions, and accept only
    // rows whose own namespace actually names the routed database —
    // a null-catalog probe otherwise matches a same-named table in
    // ANY database, and a fresh ALTER would be silently skipped as a
    // "completed replay", diverging target from registry. The
    // acceptance is namespace-aware, not an OR: when the row REPORTS
    // a schema, that schema must match — on a schema-position driver
    // (Postgres) whose CATALOG happens to equal the routed name (db
    // also called 'app'), a row from another schema would otherwise
    // pass on its TABLE_CAT. Only schema-less rows (Connector/J
    // reports TABLE_SCHEM = null) fall back to the catalog compare.
    // Schema-less routes resolve the namespace to accept from the
    // CONNECTION's current database (getCatalog/getSchema — whichever
    // the driver populates) instead of accepting any row: a null-
    // catalog probe enumerates same-named tables in EVERY database,
    // and a bare rs.next() would make a fresh ALTER look like a
    // completed replay whenever any sibling database has the table —
    // the exact divergence the routed-schema acceptance below
    // prevents. getSchema is JDBC 4.1; a driver that predates it (or
    // rejects it) contributes no constraint rather than failing the
    // probe.
    lazy val curCat =
      try Option(conn.getCatalog).getOrElse("")
      catch { case _: java.sql.SQLException => "" }
    lazy val curSch =
      try Option(conn.getSchema).getOrElse("")
      catch {
        case _: java.sql.SQLException => ""
        case _: AbstractMethodError => ""
      }
    def probe(cat: String, schPat: String, t: String, c: String): Boolean = {
      val rs = md.getColumns(cat, schPat, q(t), q(c))
      try {
        var found = false
        while (!found && rs.next()) {
          val rCat = Option(rs.getString("TABLE_CAT")).getOrElse("")
          val rSch = Option(rs.getString("TABLE_SCHEM")).getOrElse("")
          found =
            if (target.schema.nonEmpty) {
              if (rSch.nonEmpty) rSch.equalsIgnoreCase(target.schema)
              else rCat.equalsIgnoreCase(target.schema)
            } else {
              // accept only the connection's own namespace, comparing
              // the row's reported position against the connection's
              // corresponding one (schema↔schema, catalog↔catalog),
              // crossing positions only when the matching one is
              // unpopulated; a row reporting NO namespace can't be
              // discriminated and is accepted (pre-JDBC-4.1 drivers)
              if (rSch.nonEmpty)
                (if (curSch.nonEmpty) rSch.equalsIgnoreCase(curSch)
                 else curCat.isEmpty || rSch.equalsIgnoreCase(curCat))
              else if (rCat.nonEmpty)
                (if (curCat.nonEmpty) rCat.equalsIgnoreCase(curCat)
                 else curSch.isEmpty || rCat.equalsIgnoreCase(curSch))
              else true
            }
        }
        found
      } finally rs.close()
    }
    def both(s: String, t: String, c: String): Boolean =
      if (s.isEmpty) probe(null, null, t, c)
      else probe(null, q(s), t, c) || probe(s, null, t, c)
    both(target.schema, target.name, column) ||
      both(target.schema.toUpperCase, target.name.toUpperCase,
        column.toUpperCase)
  }

  /** A replayed statement whose effect is already visible on the
    * target succeeds as a no-op (at-least-once DDL delivery). */
  private[sinks] def alreadyApplied(conn: Connection, stmt: DdlStatement,
      target: TableDef): Boolean = stmt match {
    case AddColumn(_, c, _) => columnExists(conn, target, c.name)
    case DropColumn(_, c) => !columnExists(conn, target, c)
    case RenameColumn(_, from, to) =>
      !columnExists(conn, target, from) && columnExists(conn, target, to)
    case ChangeColumn(_, from, c, _) if from != c.name =>
      !columnExists(conn, target, from) && columnExists(conn, target, c.name)
    // MODIFY/TRUNCATE re-execute harmlessly (type set twice / table
    // already empty)
    case _ => false
  }
}
