package graft.meta

import org.apache.spark.sql.types._

/** Table/column metadata model ≙ `metas/table.go:23-38`; a column's
  * Spark type comes from its raw MySQL type through [[MySqlTypes]].
  */
final case class ColumnDef(
    name: String,
    rawType: String,
    isPrimaryKey: Boolean = false,
    comment: String = "") {

  def sparkType: DataType = MySqlTypes.toSpark(rawType)
}

final case class TableDef(
    schema: String,
    name: String,
    columns: Seq[ColumnDef],
    version: Int = 0,
    comment: String = "") {

  def pkColumns: Seq[ColumnDef] = columns.filter(_.isPrimaryKey)
  def columnNames: Seq[String] = columns.map(_.name)
  def column(n: String): Option[ColumnDef] =
    columns.find(_.name.equalsIgnoreCase(n))

  /** Key used by the versioned registry
    * (≙ `metas/routers.go:62-64` `schema:table:version`). */
  def key: (String, String, Int) = (schema, name, version)
}

/** MySQL→Spark type mapping for the reference's 13 column types
  * (`metas/table.go:7-21`, `metas/mysql_ddl_parse.go:33-60`). */
object MySqlTypes {

  private val DecimalRe = """(?i)decimal\s*\(\s*(\d+)\s*(?:,\s*(\d+)\s*)?\)""".r
  private val SizedRe = """(?i)([a-z]+)\s*\(.*\)""".r

  def toSpark(raw: String): DataType = {
    val r = raw.trim.toLowerCase
    val base = r match {
      case DecimalRe(p, s) =>
        return DecimalType(p.toInt, Option(s).map(_.toInt).getOrElse(0))
      case SizedRe(b) => b
      case other => other.split("\\s+").head
    }
    base match {
      case "tinyint" => ByteType
      case "smallint" => ShortType
      case "mediumint" | "int" | "integer" | "year" => IntegerType
      case "bigint" => LongType
      case "float" => FloatType
      case "double" | "real" => DoubleType
      case "decimal" | "numeric" => DecimalType(10, 0)
      case "enum" | "set" => StringType
      case "char" | "varchar" | "text" | "tinytext" | "mediumtext" |
           "longtext" => StringType
      case "json" => StringType
      case "datetime" => TimestampNTZType
      case "timestamp" => TimestampType
      case "date" => DateType
      // TIME as string: Spark's cast string→DayTimeInterval rejects
      // bare 'HH:MM:SS' (silently nulls with ANSI off) — the string
      // keeps the value intact (SURVEY §1.3 sanctions either).
      case "time" => StringType
      case "bit" => BinaryType
      case "binary" | "varbinary" | "blob" | "tinyblob" | "mediumblob" |
           "longblob" => BinaryType
      case "boolean" | "bool" => BooleanType
      case _ => StringType // unknown types degrade to string, not error
    }
  }
}
