package graft.catalog

import graft.catalog.JsonFields._
import graft.ir.Query
import org.json4s._
import org.json4s.JsonDSL._

/** Tags, keywords, and query-derived provenance — the metadata surface of
  * the reference's tag/keyword/provenance APIs
  * (python/hsfs/feature_group.py add_tag/get_tags/keywords,
  * python/hsfs/core/explicit_provenance.py) re-expressed for the
  * in-process catalog: tags and keywords persist as one [[DocumentStore]]
  * document per entity under `warehouseDir/_tags/`, and provenance
  * DERIVES from the persisted query IR instead of a server-side lineage
  * graph — a feature view's upstream links are a pure function of its
  * query.
  */
object TagPersistence {

  /** Persisted tag state of one catalog entity. Tag values are strings
    * (JSON-encode structured values — the reference validates against a
    * tag schema server-side, which has no in-process analog).
    */
  final case class Tags(tags: Map[String, String] = Map(),
                        keywords: Seq[String] = Nil)

  private val Kind = "tags"

  def save(docs: DocumentStore, entityId: String, t: Tags): Unit =
    docs.put(Kind, entityId, ("tags" -> t.tags) ~ ("keywords" -> t.keywords))

  def load(docs: DocumentStore, entityId: String): Tags =
    docs.get(Kind, entityId).fold(Tags()) { j =>
      Tags(tags = strMap(j \ "tags"), keywords = strs(j \ "keywords"))
    }
}

/** Provenance derived from query IR (core/explicit_provenance.py Links,
  * minus the accessible/deleted split — in-process groups are accessible
  * iff they resolve in the catalog).
  */
object Provenance {

  /** One upstream link: a feature group and the features drawn from it. */
  final case class Link(groupName: String, groupVersion: Int,
                        features: Seq[String])

  /** Upstream links of a query: every feature group it touches (root +
    * nested joins, depth-first) with the features each contributes —
    * select-all branches contribute the group's full declared surface.
    */
  def links(q: Query): Seq[Link] = {
    def branch(b: Query): Seq[Link] = {
      val fg = b.leftFeatureGroup
      val own =
        if (b.features.isEmpty) fg.featureNames
        else b.features.map(_.name)
      Link(fg.name, fg.version, own) +: b.joins.flatMap(j => branch(j.right))
    }
    // merge duplicate (name, version) links (a group joined twice)
    branch(q).groupBy(l => (l.groupName, l.groupVersion)).toSeq
      .sortBy(_._1)
      .map { case ((n, v), ls) =>
        Link(n, v, ls.flatMap(_.features).distinct)
      }
  }

  /** Feature groups referenced by a PERSISTED view's query IR — the
    * reverse edge (`dependentViews`) scans these without needing the
    * view's transformation registry.
    */
  def referencedGroups(docs: DocumentStore, viewName: String,
                       version: Int): Seq[(String, Int)] = {
    ViewPersistence.loadQueryRaw(docs, viewName, version)
      .map(q => links(q).map(l => (l.groupName, l.groupVersion)))
      .getOrElse(Nil)
  }
}
