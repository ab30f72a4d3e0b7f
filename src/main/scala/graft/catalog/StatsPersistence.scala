package graft.catalog

import graft.catalog.JsonFields._
import graft.ops.Transformations.FeatureStatistics
import org.json4s._
import org.json4s.JsonDSL._

/** Training-dataset transformation statistics, persisted per
  * (view, version) as [[DocumentStore]] documents under
  * `warehouseDir/_stats/` — the values a serving session binds into
  * model-dependent transformations so online vectors are scaled/encoded
  * with the TRAINING distribution (reference: core/vector_server.py:924-978
  * binding td statistics; statistics_engine.py persistence).
  */
object StatsPersistence {

  private val Kind = "stats"

  /** Document id: view-level latest (no td), or one document per
    * training-dataset version — the reference binds statistics per
    * TRAINING DATASET (init_serving(training_dataset_version),
    * core/vector_server.py:924-978), so two datasets of one view must
    * not overwrite each other's distributions.
    */
  private def idOf(viewName: String, version: Int,
                   tdVersion: Option[Int]): String =
    s"${viewName}_$version${tdVersion.map(td => s"_td$td").getOrElse("")}"

  def save(docs: DocumentStore, viewName: String, version: Int,
           stats: Map[String, FeatureStatistics],
           tdVersion: Option[Int]): Unit =
    docs.put(Kind, idOf(viewName, version, tdVersion),
      JObject(stats.toList.map { case (feature, s) =>
        feature -> (
          ("min" -> s.min) ~ ("max" -> s.max) ~ ("mean" -> s.mean) ~
            ("stddev" -> s.stddev) ~ ("p25" -> s.p25) ~
            ("median" -> s.median) ~ ("p75" -> s.p75) ~
            ("uniqueValues" -> JArray(s.uniqueValues.map(valueJson).toList))
          : JValue)
      }))

  def load(docs: DocumentStore, viewName: String, version: Int,
           tdVersion: Option[Int]): Option[Map[String, FeatureStatistics]] =
    docs.get(Kind, idOf(viewName, version, tdVersion)).collect {
      case JObject(fields) => fields.map { case (feature, s) =>
        def num(field: String) = dbl(s \ field).getOrElse(Double.NaN)
        feature -> FeatureStatistics(
          min = num("min"), max = num("max"),
          mean = num("mean"), stddev = num("stddev"),
          p25 = num("p25"), median = num("median"),
          p75 = num("p75"),
          uniqueValues = (s \ "uniqueValues") match {
            case JArray(xs) => xs.map(valueFrom); case _ => Nil
          })
      }.toMap
    }
}
