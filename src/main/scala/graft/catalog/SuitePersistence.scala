package graft.catalog

import graft.catalog.JsonFields._
import graft.ops.Validation._
import org.json4s._
import org.json4s.JsonDSL._

/** Expectation-suite metadata CRUD, persisted as one [[DocumentStore]]
  * document per feature group, `warehouseDir/_suites/<fg_id>.json` — the
  * reference's suite metadata service (python/hsfs/expectation_suite.py,
  * 619 LoC of CRUD) collapsed to one document per feature group.
  */
object SuitePersistence {

  private val Kind = "suites"

  private def specJson(s: ExpectationSpec): JValue = s match {
    case NotNullSpec(c) => ("kind" -> "not_null") ~ ("column" -> c)
    case BetweenSpec(c, lo, hi) =>
      ("kind" -> "between") ~ ("column" -> c) ~ ("min" -> lo) ~ ("max" -> hi)
    case InSetSpec(c, vs) =>
      ("kind" -> "in_set") ~ ("column" -> c) ~ ("values" -> vs)
    case RegexSpec(c, r) =>
      ("kind" -> "regex") ~ ("column" -> c) ~ ("regex" -> r)
    case UniqueSpec(c) => ("kind" -> "unique") ~ ("column" -> c)
  }

  private def specFrom(j: JValue): Option[ExpectationSpec] = {
    val c = str(j \ "column").getOrElse("")
    str(j \ "kind").collect {
      case "not_null" => NotNullSpec(c)
      case "between" => BetweenSpec(c,
        dbl(j \ "min").getOrElse(Double.NegativeInfinity),
        dbl(j \ "max").getOrElse(Double.PositiveInfinity))
      case "in_set" => InSetSpec(c, strs(j \ "values"))
      case "regex" => RegexSpec(c, str(j \ "regex").getOrElse(".*"))
      case "unique" => UniqueSpec(c)
    }
  }

  def save(docs: DocumentStore, fgId: String, suite: SuiteDef): Unit =
    docs.put(Kind, fgId,
      ("name" -> suite.name) ~ ("policy" -> suite.policy) ~
        ("expectations" -> suite.specs.map(specJson)))

  def load(docs: DocumentStore, fgId: String): Option[SuiteDef] =
    docs.get(Kind, fgId).map { j =>
      SuiteDef(
        name = str(j \ "name").getOrElse(""),
        specs = (j \ "expectations") match {
          case JArray(xs) => xs.flatMap(specFrom); case _ => Nil },
        policy = str(j \ "policy").filter(_.nonEmpty).getOrElse(Policy.Strict))
    }

  def delete(docs: DocumentStore, fgId: String): Unit = docs.delete(Kind, fgId)
}
