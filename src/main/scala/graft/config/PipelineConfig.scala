package graft.config

import org.apache.spark.sql.DataFrame

import graft.meta.SchemaRegistry
import graft.operators.Transforms
import graft.streaming.Pipeline

/** TOML-shaped pipeline configuration ≙ `config/config.go:10-53` +
  * the sample deployments (`docs/mysql-to-*-sample.toml`). Both the
  * reference's nested layout (`[[transforms]]` + `[transforms.config]`,
  * `[[output.config.routers]]` + `[output.config.routers.columns-mapper]`)
  * and a flat layout (`[[routers]]`, inline transform params) parse.
  */
final case class TransformSpec(
    kind: String,
    matchDb: String,
    matchTable: String,
    params: Map[String, Any]) {

  private def strList(key: String): Seq[String] =
    params.get(key).map(_.asInstanceOf[Seq[Any]].map(_.toString))
      .getOrElse(Nil)

  /** ≙ transforms/trans_rename_column.go / trans_delete_column.go
    * config→function construction. */
  def toFn: DataFrame => DataFrame = kind match {
    case "rename-column" =>
      val from = strList("columns")
      val to = strList("rename-as")
      require(from.length == to.length,
        s"rename-column arity: columns=$from rename-as=$to")
      Transforms.renameColumn(from.zip(to): _*)
    case "delete-column" =>
      Transforms.deleteColumn(strList("columns"): _*)
    case "filter" =>
      Transforms.dropWhere(org.apache.spark.sql.functions.expr(
        params("predicate").toString))
    case other =>
      throw new IllegalArgumentException(s"unknown transform: $other")
  }
}

final case class RouterSpec(
    sourceDb: String,
    sourceTable: String,
    targetDb: String,
    targetTable: String,
    sourceColumns: Seq[String],
    targetColumns: Seq[String])

final case class PipelineConfig(
    input: Map[String, Any],
    output: Map[String, Any],
    routers: Seq[RouterSpec],
    transforms: Seq[TransformSpec],
    meta: Map[String, Any] = Map.empty) {

  /** Assemble Pipeline.Routes: per router, the matched transforms in
    * declaration order, then the positional column mapper
    * (≙ core/meta.go:38-104 ordering: transforms rewrite the column
    * list before the mapper zip). Target schemas resolve from the
    * registry (≙ output LoadMeta); when a SOURCE schema is also
    * registered, the envelope projects onto it first so transforms
    * see the source's column names. A router without a mapper whose
    * target is not registered lands the source's columns under the
    * target's name. The mapper preserves the pipeline's op/seq/pos
    * metadata columns. */
  def routes(registry: SchemaRegistry): Seq[Pipeline.Route] =
    routers.map { r =>
      val source = registry.current(r.sourceDb, r.sourceTable)
      val target = registry.current(r.targetDb, r.targetTable)
        .orElse(source.filter(_ => r.sourceColumns.isEmpty)
          .map(_.copy(schema = r.targetDb, name = r.targetTable)))
        .getOrElse(throw new IllegalArgumentException(
          s"no schema registered for ${r.targetDb}.${r.targetTable}"))
      val matched = transforms.filter(t =>
        t.matchDb == r.sourceDb && t.matchTable == r.sourceTable)
      val mapper: Seq[DataFrame => DataFrame] =
        if (r.sourceColumns.nonEmpty)
          Seq(Transforms.envelopeColumnMapper(r.sourceColumns, r.targetColumns))
        else Nil
      Pipeline.Route(r.sourceDb, r.sourceTable, target,
        matched.map(_.toFn) ++ mapper, source = source)
    }
}

object PipelineConfig {

  def fromToml(text: String): PipelineConfig = {
    val tree = Toml.parseTree(text)

    def asMap(v: Any): Map[String, Any] = v match {
      case m: Map[String @unchecked, Any @unchecked] => m
      case _ => Map.empty
    }
    def strList(m: Map[String, Any], key: String): Seq[String] =
      m.get(key).collect { case s: Seq[Any @unchecked] =>
        s.map(_.toString)
      }.getOrElse(Nil)

    // routers: flat [[routers]] OR nested [[output.config.routers]];
    // per-router columns-mapper from the nested subtable or inline
    val routerTables =
      Toml.tablesAt(tree, "routers") ++
        Toml.tablesAt(tree, "output.config.routers")
    val routers = routerTables.map { m =>
      val mapper = asMap(m.getOrElse("columns-mapper", Map.empty))
      RouterSpec(
        sourceDb = m.getOrElse("source-schema", "").toString,
        sourceTable = m.getOrElse("source-table", "").toString,
        targetDb = m.getOrElse("target-schema",
          m.getOrElse("source-schema", "")).toString,
        targetTable = m.getOrElse("target-table",
          m.getOrElse("source-table", "")).toString,
        sourceColumns =
          strList(m, "source-columns") ++ strList(mapper, "source-columns"),
        targetColumns =
          strList(m, "target-columns") ++ strList(mapper, "target-columns"))
    }
    if (routerTables.isEmpty)
      throw new IllegalArgumentException(
        "config declares no routers ([[routers]] or [[output.config.routers]])")

    // transforms: params inline OR under the [transforms.config] subtable
    val transforms = Toml.tablesAt(tree, "transforms").map { m =>
      val p = m ++ asMap(m.getOrElse("config", Map.empty))
      TransformSpec(
        kind = m.getOrElse("type", "").toString,
        matchDb = p.getOrElse("match-schema", "").toString,
        matchTable = p.getOrElse("match-table", "").toString,
        params = p)
    }

    PipelineConfig(
      asMap(tree.getOrElse("input", Map.empty)),
      asMap(tree.getOrElse("output", Map.empty)),
      routers, transforms,
      asMap(tree.getOrElse("meta", Map.empty)))
  }
}
