package graft.catalog

import graft.catalog.JsonFields._
import graft.ir._
import graft.ops.Transformations
import graft.view.FeatureView
import org.json4s._
import org.json4s.JsonDSL._

/** Feature-view persistence: the full query IR (projection, nested joins,
  * filter tree, per-branch time travel, feature groups inlined) plus
  * label/helper markers, as one [[DocumentStore]] document per view
  * under `warehouseDir/_views/<name>_<version>.json` — the
  * analog of the reference's server-side feature-view metadata
  * (python/hsfs/feature_view.py, core/feature_view_engine.py).
  *
  * Transformations are persisted BY NAME only and rebound from a
  * caller-supplied registry at load time, mirroring the reference, where
  * views reference transformation functions registered separately
  * (python/hsfs/hopsworks_udf.py) — a Scala lambda has no portable
  * serialized form. Spine (DataFrame-backed) groups are session-scoped
  * and refuse to persist.
  */
object ViewPersistence {

  private val Kind = "views"
  private def idOf(name: String, version: Int) = s"${name}_$version"

  // -- filter tree -----------------------------------------------------------

  private val condNames: Map[FilterCondition, String] = Map(
    FilterCondition.Eq -> "eq", FilterCondition.Ne -> "ne",
    FilterCondition.Gt -> "gt", FilterCondition.Ge -> "ge",
    FilterCondition.Lt -> "lt", FilterCondition.Le -> "le",
    FilterCondition.In -> "in", FilterCondition.Like -> "like")
  private val condFromName = condNames.map(_.swap)

  private def filterJson(f: FilterExpr): JValue = f match {
    case FilterLeaf(ref, cond, value) =>
      ("op" -> "leaf") ~ ("feature" -> ref.name) ~ ("fg" -> ref.fgName) ~
        ("cond" -> condNames(cond)) ~ ("value" -> valueJson(value))
    case FilterAnd(l, r) =>
      ("op" -> "and") ~ ("left" -> filterJson(l)) ~ ("right" -> filterJson(r))
    case FilterOr(l, r) =>
      ("op" -> "or") ~ ("left" -> filterJson(l)) ~ ("right" -> filterJson(r))
  }

  private def filterFrom(j: JValue): FilterExpr = str(j \ "op") match {
    case Some("and") => FilterAnd(filterFrom(j \ "left"), filterFrom(j \ "right"))
    case Some("or")  => FilterOr(filterFrom(j \ "left"), filterFrom(j \ "right"))
    case _ => FilterLeaf(
      FeatureRef(str(j \ "feature").getOrElse(""), str(j \ "fg")),
      condFromName(str(j \ "cond").getOrElse("eq")),
      valueFrom(j \ "value"))
  }

  // -- query IR --------------------------------------------------------------

  private val joinNames: Map[JoinType, String] = Map(
    JoinType.Inner -> "inner", JoinType.Left -> "left",
    JoinType.Right -> "right", JoinType.Full -> "full",
    JoinType.Cross -> "cross", JoinType.LeftSemi -> "left_semi",
    JoinType.LeftAnti -> "left_anti", JoinType.Comma -> "comma")
  private val joinFromName = joinNames.map(_.swap)

  private[catalog] def queryJson(q: Query): JValue = {
    val fgJson = CatalogPersistence.toJson(q.leftFeatureGroup).getOrElse(
      throw new IllegalArgumentException(
        s"query over session-scoped group ${q.leftFeatureGroup.name} " +
          "(DataFrame spine / unbound) cannot be persisted"))
    ("fg" -> fgJson) ~
      ("features" -> q.features.map(fr =>
        ("name" -> fr.name) ~ ("fg" -> fr.fgName): JValue)) ~
      ("joins" -> q.joins.map(j =>
        ("right" -> queryJson(j.right)) ~ ("on" -> j.on) ~
          ("leftOn" -> j.leftOn) ~ ("rightOn" -> j.rightOn) ~
          ("joinType" -> joinNames(j.joinType)) ~
          ("prefix" -> j.prefix): JValue)) ~
      ("filter" -> q.filter.map(filterJson)) ~
      ("asOf" -> q.timeTravel.flatMap(_.asOf)) ~
      ("excludeUntil" -> q.timeTravel.flatMap(_.excludeUntil))
  }

  private[catalog] def queryFrom(j: JValue): Query = {
    val tt = (lng(j \ "asOf"), lng(j \ "excludeUntil")) match {
      case (None, None) => None
      case (a, e)       => Some(TimeTravel(a, e))
    }
    Query(
      leftFeatureGroup = CatalogPersistence.fromJson(j \ "fg"),
      features = (j \ "features") match {
        case JArray(xs) => xs.map(f =>
          FeatureRef(str(f \ "name").getOrElse(""), str(f \ "fg")))
        case _ => Nil
      },
      joins = (j \ "joins") match {
        case JArray(xs) => xs.map(jj => JoinSpec(
          right = queryFrom(jj \ "right"),
          on = strs(jj \ "on"),
          leftOn = strs(jj \ "leftOn"),
          rightOn = strs(jj \ "rightOn"),
          joinType = joinFromName(
            str(jj \ "joinType").getOrElse("left")),
          prefix = str(jj \ "prefix")))
        case _ => Nil
      },
      filter = (j \ "filter") match {
        case JNothing | JNull => None
        case f => Some(filterFrom(f))
      },
      timeTravel = tt)
  }

  // -- feature view ----------------------------------------------------------

  def save(docs: DocumentStore, view: FeatureView): Unit =
    docs.put(Kind, idOf(view.name, view.version),
      ("name" -> view.name) ~ ("version" -> view.version) ~
        ("query" -> queryJson(view.query)) ~
        ("labels" -> view.labels) ~
        ("inferenceHelperColumns" -> view.inferenceHelperColumns) ~
        ("trainingHelperColumns" -> view.trainingHelperColumns) ~
        ("transformations" -> view.transformations.map(_.name)))

  /** Load a view; `transformationRegistry` resolves persisted
    * transformation names back to their registered implementations, and
    * `resolve` supplies any name missing from the registry (e.g. lazy
    * lookup in the persisted transformation store — consulted only for
    * the names THIS view references, in one read of the view document).
    */
  def load(docs: DocumentStore, name: String, version: Int,
           transformationRegistry: Map[String, Transformations.Transformation],
           resolve: String => Option[Transformations.Transformation])
      : Option[FeatureView] =
    docs.get(Kind, idOf(name, version)).map { j =>
      val wanted = strs(j \ "transformations")
      val resolved: Map[String, Transformations.Transformation] =
        wanted.flatMap { n =>
          transformationRegistry.get(n).orElse(resolve(n)).map(n -> _)
        }.toMap
      val missing = wanted.filterNot(resolved.contains)
      require(missing.isEmpty,
        s"view $name v$version references transformations " +
          s"${missing.mkString(", ")} — pass them in transformationRegistry " +
          "(lambdas have no persisted form; register them like the " +
          "reference's transformation functions)")
      FeatureView(
        name = str(j \ "name").getOrElse(name),
        version = lng(j \ "version").fold(version)(_.toInt),
        query = queryFrom(j \ "query"),
        labels = strs(j \ "labels"),
        inferenceHelperColumns = strs(j \ "inferenceHelperColumns"),
        trainingHelperColumns = strs(j \ "trainingHelperColumns"),
        transformations = wanted.map(resolved))
    }

  /** (name, version) of every persisted view. */
  def list(docs: DocumentStore): Seq[(String, Int)] =
    docs.ids(Kind).flatMap { stem =>
      val cut = stem.lastIndexOf('_')
      if (cut <= 0) None
      else stem.drop(cut + 1).toIntOption.map(v => (stem.take(cut), v))
    }

  /** A persisted view's query IR alone — no transformation registry
    * needed (provenance/lineage walks don't execute the view).
    */
  def loadQueryRaw(docs: DocumentStore, name: String,
                   version: Int): Option[Query] =
    docs.get(Kind, idOf(name, version)).map(j => queryFrom(j \ "query"))

  def delete(docs: DocumentStore, name: String, version: Int): Unit =
    docs.delete(Kind, idOf(name, version))
}
