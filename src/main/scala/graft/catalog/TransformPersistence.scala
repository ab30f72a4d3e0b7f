package graft.catalog

import graft.catalog.JsonFields._
import graft.ops.Transformations
import org.json4s._
import org.json4s.JsonDSL._

/** Persisted transformation-function registry — the analog of the
  * reference's create/get_transformation_function
  * (feature_store.py:1316-1473, hopsworks_udf.py source capture): one
  * JSON descriptor per registered BUILTIN transformation, a
  * [[DocumentStore]] document under `warehouseDir/_transformations/`.
  * Only the declarative builtins can round-trip (a Scala lambda has no
  * persisted form — those stay name-resolved via the caller registry, as
  * ViewPersistence documents).
  */
object TransformPersistence {

  final case class TransformDef(name: String, builtin: String,
                                input: String, outName: Option[String],
                                dropInput: Boolean) {
    def toTransformation: Transformations.Transformation =
      Transformations.builtin(name, builtin, input, outName, dropInput)
  }

  private val Kind = "transformations"

  def save(docs: DocumentStore, d: TransformDef): Unit = {
    require(Transformations.Builtins.contains(d.builtin),
      s"only builtin transformations persist (got '${d.builtin}'); " +
        "register lambdas by name at load time instead")
    docs.put(Kind, d.name,
      ("name" -> d.name) ~ ("builtin" -> d.builtin) ~
        ("input" -> d.input) ~ ("outName" -> d.outName) ~
        ("dropInput" -> d.dropInput))
  }

  def load(docs: DocumentStore, name: String): Option[TransformDef] =
    docs.get(Kind, name).map { j =>
      TransformDef(
        name = str(j \ "name").getOrElse(name),
        builtin = str(j \ "builtin").getOrElse(""),
        input = str(j \ "input").getOrElse(""),
        outName = str(j \ "outName"),
        dropInput = bool(j \ "dropInput").getOrElse(false))
    }

  def list(docs: DocumentStore): Seq[String] = docs.ids(Kind)

  def delete(docs: DocumentStore, name: String): Unit = docs.delete(Kind, name)
}
