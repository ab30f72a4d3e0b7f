package graft.catalog

import graft.catalog.JsonFields._
import org.json4s._
import org.json4s.JsonDSL._

/** Training-dataset VERSION metadata CRUD, persisted as JSON under
  * `warehouseDir/_training_datasets/<view>_<viewVersion>_<tdVersion>.json`
  * — the reference materializes versioned training datasets with
  * server-side metadata (python/hsfs/training_dataset.py,
  * core/feature_view_engine.py:229-320 create_training_dataset); here the
  * descriptor is one [[DocumentStore]] document, so a restarted session
  * can locate and read the exact materialized artifact.
  */
object TrainingDatasetPersistence {

  /** Persisted descriptor of one materialized training-dataset version. */
  final case class TrainingDatasetMeta(
      viewName: String, viewVersion: Int, version: Int,
      format: String, path: String,
      randomWeights: Map[String, Double] = Map(),
      timeBounds: Map[String, (Long, Long)] = Map(),
      seed: Long = 42L, exactSizes: Boolean = false,
      createdMillis: Long = 0L,
      groupSplit: Option[graft.ops.Splits.GroupSplit] = None,
      /** Persisted so recreate reproduces the original file layout. */
      coalesce: Boolean = false) {
    /** Split names in their deterministic (sorted) order; a dataset built
      * with no split spec is the single `train` split.
      */
    def splitNames: Seq[String] =
      if (groupSplit.nonEmpty) groupSplit.get.weights.map(_._1)
      else if (randomWeights.nonEmpty) randomWeights.keys.toSeq.sorted
      else if (timeBounds.nonEmpty) timeBounds.keys.toSeq.sorted
      else Seq("train")
  }

  private val Kind = "training_datasets"
  private def idOf(view: String, viewVersion: Int, version: Int) =
    s"${view}_${viewVersion}_$version"

  def save(docs: DocumentStore, meta: TrainingDatasetMeta): Unit =
    docs.put(Kind, idOf(meta.viewName, meta.viewVersion, meta.version),
      ("viewName" -> meta.viewName) ~
        ("viewVersion" -> meta.viewVersion) ~
        ("version" -> meta.version) ~
        ("format" -> meta.format) ~
        ("path" -> meta.path) ~
        ("randomWeights" -> meta.randomWeights) ~
        ("timeBounds" -> meta.timeBounds.map { case (k, (lo, hi)) =>
          k -> List(lo, hi) }) ~
        ("seed" -> meta.seed) ~
        ("exactSizes" -> meta.exactSizes) ~
        ("coalesce" -> meta.coalesce) ~
        ("createdMillis" -> meta.createdMillis) ~
        ("groupSplit" -> meta.groupSplit.map(g =>
          ("groupCol" -> g.groupCol) ~
            ("salt" -> g.salt) ~
            ("weights" -> g.weights.map { case (k, w) =>
              ("name" -> k) ~ ("w" -> w): JValue }))))

  def load(docs: DocumentStore, viewName: String, viewVersion: Int,
           version: Int): Option[TrainingDatasetMeta] =
    docs.get(Kind, idOf(viewName, viewVersion, version)).map { j =>
      TrainingDatasetMeta(
        viewName = str(j \ "viewName").getOrElse(""),
        viewVersion = lng(j \ "viewVersion").getOrElse(0L).toInt,
        version = lng(j \ "version").getOrElse(0L).toInt,
        format = str(j \ "format").getOrElse(""),
        path = str(j \ "path").getOrElse(""),
        randomWeights = (j \ "randomWeights") match {
          case JObject(fields) => fields.flatMap { case (k, w) =>
            dbl(w).map(k -> _) }.toMap
          case _ => Map.empty
        },
        timeBounds = (j \ "timeBounds") match {
          case JObject(fields) => fields.collect {
            case JField(k, JArray(List(lo, hi))) =>
              k -> (lng(lo).getOrElse(0L), lng(hi).getOrElse(0L))
          }.toMap
          case _ => Map.empty
        },
        seed = lng(j \ "seed").getOrElse(0L),
        exactSizes = bool(j \ "exactSizes").getOrElse(false),
        coalesce = bool(j \ "coalesce").getOrElse(false),
        createdMillis = lng(j \ "createdMillis").getOrElse(0L),
        // absent in descriptors written before grouped splits existed
        groupSplit = (j \ "groupSplit") match {
          case g @ JObject(_) =>
            val ws = (g \ "weights") match {
              case JArray(items) => items.collect { case item @ JObject(_) =>
                str(item \ "name").getOrElse("") ->
                  dbl(item \ "w").getOrElse(0.0)
              }
              case _ => Nil
            }
            Some(graft.ops.Splits.GroupSplit(
              str(g \ "groupCol").getOrElse(""), ws,
              str(g \ "salt").getOrElse("")))
          case _ => None
        })
    }

  /** Every persisted version of a view's training datasets. */
  def list(docs: DocumentStore, viewName: String,
           viewVersion: Int): Seq[Int] = {
    val prefix = s"${viewName}_${viewVersion}_"
    docs.ids(Kind).filter(_.startsWith(prefix))
      .flatMap(_.stripPrefix(prefix).toIntOption).sorted
  }

  def delete(docs: DocumentStore, viewName: String, viewVersion: Int,
             version: Int): Unit =
    docs.delete(Kind, idOf(viewName, viewVersion, version))
}
