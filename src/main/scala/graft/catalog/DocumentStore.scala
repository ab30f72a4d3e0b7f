package graft.catalog

import java.io.{FileNotFoundException, IOException}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, FileUtil, Options,
  Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

import scala.util.control.NonFatal

/** The catalog's one persistence protocol: JSON documents under
  * `<warehouseDir>/_<kind>/<id>.json`, on the filesystem the session's
  * Hadoop configuration resolves for the warehouse — the in-process
  * stand-in for the reference's server-side metadata store. Every catalog
  * module (groups, views, statistics, suites, transformations, training
  * datasets, tags, monitoring configs) keeps only its entity codec and id
  * naming and does its I/O here.
  *
  * Publish rule: `put` writes the new bytes to a hidden sibling
  * (`.<id>.json.<uuid>.tmp` — not a `.json` name, so `ids` and `get` never
  * see it) and replaces the document with one rename, so a reader or a
  * crash sees the old document or the new one, never a truncated one
  * (`create(…, overwrite = true)` truncates first: a concurrent load read
  * an empty file). On the `file` scheme all I/O goes through the raw local
  * filesystem, whose rename is POSIX `rename(2)` and replaces the target
  * atomically; the checksummed wrapper's rename refuses an existing target,
  * and its `.crc` siblings of documents written before this protocol are
  * deleted on the next put or delete so they cannot go stale. Other
  * schemes rename with `Options.Rename.OVERWRITE`: HDFS does that in one
  * NameNode operation (atomic); a filesystem on Hadoop's default
  * implementation deletes the target and then renames, so a reader may
  * briefly find the document absent — still never partial. Concurrent
  * puts of one document: the last rename wins.
  */
private[graft] final class DocumentStore(spark: SparkSession,
                                         warehouseDir: String) {

  private def fs: FileSystem = new Path(warehouseDir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration) match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case other                 => other
    }

  private def path(kind: String, id: String) =
    new Path(s"$warehouseDir/_$kind/$id.json")

  private def dropLegacyChecksum(f: FileSystem, doc: Path): Unit =
    if (f.isInstanceOf[RawLocalFileSystem])
      f.delete(new Path(doc.getParent, s".${doc.getName}.crc"), false)

  def put(kind: String, id: String, doc: JValue): Unit = {
    val f = fs
    val target = path(kind, id)
    val staged = new Path(target.getParent,
      s".$id.json.${java.util.UUID.randomUUID}.tmp")
    try {
      val out = f.create(staged, false)
      try out.write(
        JsonMethods.compact(JsonMethods.render(doc)).getBytes(UTF_8))
      finally out.close()
      f match {
        case _: RawLocalFileSystem =>
          if (!f.rename(staged, target))
            throw new IOException(s"could not publish $staged as $target")
        case _ => FileUtil.rename(f, staged, target, Options.Rename.OVERWRITE)
      }
    } catch {
      case NonFatal(e) => f.delete(staged, false); throw e
    }
    dropLegacyChecksum(f, target)
  }

  /** The document, or None when absent. One `open`: absence is its
    * FileNotFoundException, so there is no exists-then-open window. A
    * document that does not parse fails loudly, naming kind, id and path.
    */
  def get(kind: String, id: String): Option[JValue] = {
    val p = path(kind, id)
    val bytes =
      try {
        val in = fs.open(p)
        try Some(in.readAllBytes) finally in.close()
      } catch { case _: FileNotFoundException => None }
    bytes.map { b =>
      try JsonMethods.parse(new String(b, UTF_8))
      catch {
        case NonFatal(e) => throw new IOException(
          s"catalog document '$id' of kind '$kind' at $p cannot be read: " +
            e.getMessage, e)
      }
    }
  }

  /** Ids of every published document of a kind, sorted. */
  def ids(kind: String): Seq[String] =
    try fs.listStatus(new Path(s"$warehouseDir/_$kind")).toSeq
      .map(_.getPath.getName).filter(_.endsWith(".json"))
      .map(_.stripSuffix(".json")).sorted
    catch { case _: FileNotFoundException => Nil }

  def delete(kind: String, id: String): Unit = {
    val f = fs
    val p = path(kind, id)
    f.delete(p, false)
    dropLegacyChecksum(f, p)
  }
}

/** Lenient readers of the catalog's JSON fields (absent or mistyped reads
  * as None / empty), plus the untyped-value codec filter literals, default
  * values and unique-value lists share.
  */
private[graft] object JsonFields {

  def str(v: JValue): Option[String] =
    v match { case JString(s) => Some(s); case _ => None }

  def strs(v: JValue): Seq[String] =
    v match { case JArray(xs) => xs.flatMap(str); case _ => Nil }

  def bool(v: JValue): Option[Boolean] =
    v match { case JBool(b) => Some(b); case _ => None }

  def lng(v: JValue): Option[Long] =
    v match { case JInt(i) => Some(i.toLong); case _ => None }

  def dbl(v: JValue): Option[Double] = v match {
    case JDouble(d) => Some(d); case JInt(i) => Some(i.toDouble)
    case _ => None }

  def strMap(v: JValue): Map[String, String] = v match {
    case JObject(fields) =>
      fields.collect { case JField(k, JString(s)) => k -> s }.toMap
    case _ => Map.empty
  }

  def valueJson(v: Any): JValue = v match {
    case s: String  => JString(s)
    case i: Int     => JInt(i)
    case l: Long    => JInt(l)
    case d: Double  => JDouble(d)
    case f: Float   => JDouble(f.toDouble)
    case b: Boolean => JBool(b)
    case xs: Seq[_] => JArray(xs.map(valueJson).toList)
    case other      => JString(other.toString)
  }

  def valueFrom(j: JValue): Any = j match {
    case JString(s) => s
    case JInt(i)    => i.toLong
    case JDouble(d) => d
    case JBool(b)   => b
    case JArray(xs) => xs.map(valueFrom)
    case other      => JsonMethods.compact(JsonMethods.render(other))
  }
}
