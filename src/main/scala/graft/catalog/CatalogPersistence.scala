package graft.catalog

import graft.catalog.JsonFields._
import graft.model._
import org.apache.spark.sql.types.DataType
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods

/** JSON codec for feature-group definitions — one [[DocumentStore]]
  * document per group, `warehouseDir/_catalog/<name>_<version>.json`, so
  * the catalog lives wherever the warehouse does (reference durability
  * contract: server-side metadata,
  * python/hsfs/feature_store.py; the lake data already survives restarts,
  * this makes the definitions survive too).
  *
  * DataFrame-backed (spine) and unbound groups are session-scoped by
  * nature and are not persisted.
  */
object CatalogPersistence {

  private val Kind = "catalog"

  /** Coerce a parsed JSON default back to the feature's declared type so
    * write-path fills (`lit(default)`) stay type-correct after a reload.
    */
  private def defaultFromJson(j: JValue, dt: DataType): Option[Any] = j match {
    case JNothing | JNull => None
    case JString(s)       => Some(s)
    case JBool(b)         => Some(b)
    case JInt(i) => dt match {
      case org.apache.spark.sql.types.IntegerType => Some(i.toInt)
      case org.apache.spark.sql.types.DoubleType  => Some(i.toDouble)
      case org.apache.spark.sql.types.FloatType   => Some(i.toFloat)
      case _                                      => Some(i.toLong)
    }
    case JDouble(d) => dt match {
      case org.apache.spark.sql.types.FloatType => Some(d.toFloat)
      case _                                    => Some(d)
    }
    case other => Some(JsonMethods.compact(JsonMethods.render(other)))
  }

  private def sourceToJson(src: FgSource): Option[JValue] = src match {
    case ParquetSource(path) => Some(("type" -> "parquet") ~ ("path" -> path))
    case LakeSource(root)    => Some(("type" -> "lake") ~ ("path" -> root))
    case ViewSource(table)   => Some(("type" -> "view") ~ ("path" -> table))
    case ConnectorSource(format, options, conf, path) =>
      // full pushdown contract persists: options carry e.g. the jdbc
      // "query"; a reloaded catalog plans the identical external read
      Some(("type" -> "connector") ~ ("format" -> format) ~
        ("options" -> options) ~ ("hadoopConf" -> conf) ~
        ("loadPath" -> path))
    case _                   => None // DataFrame/unbound: session-scoped
  }

  private def sourceFromJson(j: JValue): FgSource = {
    val path = str(j \ "path").getOrElse("")
    (j \ "type") match {
      case JString("parquet") => ParquetSource(path)
      case JString("lake")    => LakeSource(path)
      case JString("view")    => ViewSource(path)
      case JString("connector") => ConnectorSource(
        format = str(j \ "format").getOrElse(""),
        options = strMap(j \ "options"),
        hadoopConf = strMap(j \ "hadoopConf"),
        path = str(j \ "loadPath"))
      case _                  => UnboundSource
    }
  }

  private[catalog] def toJson(fg: FeatureGroup): Option[JValue] =
    sourceToJson(fg.source).map { src =>
      ("name" -> fg.name) ~
        ("version" -> fg.version) ~
        ("primaryKey" -> fg.primaryKey) ~
        ("partitionKey" -> fg.partitionKey) ~
        ("eventTime" -> fg.eventTime) ~
        ("precombineKey" -> fg.precombineKey) ~
        ("online" -> fg.online) ~
        ("statisticsConfig" -> (
          ("enabled" -> fg.statisticsConfig.enabled) ~
            ("correlations" -> fg.statisticsConfig.correlations) ~
            ("histograms" -> fg.statisticsConfig.histograms) ~
            ("exactUniqueness" -> fg.statisticsConfig.exactUniqueness) ~
            ("columns" -> fg.statisticsConfig.columns))) ~
        ("source" -> src) ~
        ("features" -> fg.features.map { f =>
          ("name" -> f.name) ~
            ("dataType" -> f.dataType.json) ~
            ("primary" -> f.primary) ~
            ("partition" -> f.partition) ~
            ("nullable" -> f.nullable) ~
            ("description" -> f.description) ~
            ("default" -> f.defaultValue.map(valueJson))
        })
    }

  private[catalog] def fromJson(j: JValue): FeatureGroup = {
    val features = (j \ "features") match {
      case JArray(fs) => fs.map { f =>
        val dt = DataType.fromJson(str(f \ "dataType").getOrElse("\"string\""))
        Feature(
          name = str(f \ "name").getOrElse(""),
          dataType = dt,
          primary = bool(f \ "primary").getOrElse(false),
          partition = bool(f \ "partition").getOrElse(false),
          nullable = bool(f \ "nullable").getOrElse(true),
          description = str(f \ "description"),
          defaultValue = defaultFromJson(f \ "default", dt))
      }
      case _ => Nil
    }
    FeatureGroup(
      name = str(j \ "name").getOrElse(""),
      version = lng(j \ "version").fold(1)(_.toInt),
      features = features,
      primaryKey = strs(j \ "primaryKey"),
      partitionKey = strs(j \ "partitionKey"),
      eventTime = str(j \ "eventTime"),
      precombineKey = str(j \ "precombineKey"),
      source = sourceFromJson(j \ "source"),
      online = bool(j \ "online").getOrElse(false),
      // absent in pre-upgrade catalogs → reference defaults
      statisticsConfig = StatisticsConfig(
        enabled = bool(j \ "statisticsConfig" \ "enabled").getOrElse(true),
        correlations =
          bool(j \ "statisticsConfig" \ "correlations").getOrElse(false),
        histograms =
          bool(j \ "statisticsConfig" \ "histograms").getOrElse(false),
        exactUniqueness =
          bool(j \ "statisticsConfig" \ "exactUniqueness").getOrElse(false),
        columns = strs(j \ "statisticsConfig" \ "columns")))
  }

  def save(docs: DocumentStore, fg: FeatureGroup): Unit =
    toJson(fg).foreach(docs.put(Kind, fg.id, _))

  def load(docs: DocumentStore): Seq[FeatureGroup] =
    docs.ids(Kind).flatMap(docs.get(Kind, _)).map(fromJson)
}
