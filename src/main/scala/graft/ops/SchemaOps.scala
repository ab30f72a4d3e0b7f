package graft.ops

import graft.model.Feature
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Schema-shaping operators of the ingest path (SURVEY §2.3):
  * name sanitization, cast-to-declared-schema, label split, preview,
  * schema-only writes, and the Kafka wire encode.
  */
object SchemaOps {

  /** Sanitize every column name: lowercase, illegal chars → underscore
    * (engine/spark.py:302-338).
    */
  def sanitizeNames(df: DataFrame): DataFrame = {
    val renames = df.columns.map(c => c -> Feature.sanitizeName(c))
    renames.foldLeft(df) { case (d, (from, to)) =>
      if (from == to) d else d.withColumnRenamed(from, to)
    }
  }

  /** Cast columns to a declared schema (engine/spark.py:1464-1474
    * cast_columns); unknown columns pass through untouched.
    */
  def castToSchema(df: DataFrame, schema: StructType): DataFrame = {
    val types: Map[String, DataType] =
      schema.fields.map(f => f.name -> f.dataType).toMap
    df.select(df.columns.toIndexedSeq.map { c =>
      types.get(c) match {
        case Some(t) if df.schema(c).dataType != t => col(c).cast(t).as(c)
        case _                                     => col(c)
      }
    }: _*)
  }

  /** Schema evolution helper: append missing columns with defaults
    * (feature_group.py:853 appended-column defaults). `defaults` fills
    * missing columns that have a declared default value; others get null.
    *
    * `fillNullDefaults` additionally COALESCEs nulls in present columns
    * to their default — the read-path form: a merged-schema scan over a
    * lake table surfaces appended columns as null for rows predating the
    * append, and those rows must read back the declared default. (Writes
    * align batches to the full schema with defaults, so post-append nulls
    * only arise from an explicit null insert, which this coats too —
    * documented semantic of a declared default.)
    */
  def alignToSchema(df: DataFrame, schema: StructType,
                    defaults: Map[String, Any] = Map(),
                    fillNullDefaults: Boolean = false): DataFrame = {
    val existing = df.columns.toSet
    val withMissing = schema.fields.filterNot(f => existing(f.name))
      .foldLeft(df) { (d, f) =>
        val fill = defaults.get(f.name).map(lit(_)).getOrElse(lit(null))
        d.withColumn(f.name, fill.cast(f.dataType))
      }
    val cast = castToSchema(withMissing, schema)
    val filled =
      if (!fillNullDefaults) cast
      else schema.fields.foldLeft(cast) { (d, f) =>
        defaults.get(f.name) match {
          case Some(v) if existing(f.name) =>
            d.withColumn(f.name,
              coalesce(col(f.name), lit(v).cast(f.dataType)))
          case _ => d
        }
      }
    filled.select(schema.fields.toIndexedSeq.map(f => col(f.name)): _*)
  }

  /** Align to a feature-group's declared features, honoring their
    * `defaultValue`s.
    */
  def alignToFeatures(df: DataFrame,
                      features: Seq[graft.model.Feature],
                      fillNullDefaults: Boolean = false): DataFrame =
    alignToSchema(df,
      org.apache.spark.sql.types.StructType(features.map(_.toField)),
      features.collect { case f if f.defaultValue.isDefined =>
        f.name -> f.defaultValue.get
      }.toMap,
      fillNullDefaults)

  /** `show(n)` / preview semantics (constructor/query.py:209-234). */
  def preview(df: DataFrame, n: Int = 10): DataFrame = df.limit(n)

  /** Schema-only write frame (`save_empty_dataframe`,
    * engine/spark.py:1237-1249).
    */
  def emptyFrame(df: DataFrame): DataFrame = df.limit(0)

  /** Row-level diff between two keyed snapshots (the "what changed
    * between these two as-of times" question time travel alone doesn't
    * answer): one full-outer join on the key, payloads compared as a
    * single null-safe struct. Output: keys, `status` ∈ added | removed |
    * changed, and every payload column twice under `before_`/`after_`
    * prefixes; unchanged rows are dropped.
    *
    * Scale shape: one co-partitioned shuffle join of the two snapshots —
    * at 100 TB run it on the lake's as-of reads, whose commit-partition
    * pruning has already cut each side to its snapshot, and the struct
    * equality short-circuits per row. Works on any keyed frames, not
    * just lake reads.
    */
  def frameDiff(before: DataFrame, after: DataFrame,
                keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "frameDiff needs at least one key column")
    require(before.columns.toSeq == after.columns.toSeq,
      s"snapshots must share a schema: ${before.columns.toSeq}" +
        s" vs ${after.columns.toSeq}")
    val payload = before.columns.filterNot(keys.contains).toSeq
    require(payload.nonEmpty,
      "frameDiff needs at least one non-key column (a keys-only diff is" +
        " a pair of anti-joins)")
    def sided(df: DataFrame, tag: String) =
      df.select((keys.map(col) :+
        struct(payload.map(col): _*).as(s"_$tag")): _*)
    sided(before, "b").join(sided(after, "a"), keys, "full_outer")
      .withColumn("status",
        when(col("_b").isNull, "added")
          .when(col("_a").isNull, "removed")
          .when(!(col("_b") <=> col("_a")), "changed"))
      .filter(col("status").isNotNull)
      .select((keys.map(col) :+ col("status")) ++
        payload.map(c => col("_b").getField(c).as(s"before_$c")) ++
        payload.map(c => col("_a").getField(c).as(s"after_$c")): _*)
  }

  /** Kafka wire encode (engine/spark.py:507-580 minus Avro, which needs the
    * spark-avro datasource): key = concat of sorted primary-key values,
    * value = JSON of the full row, headers = constant metadata entries —
    * ready for `df.write.format("kafka")`.
    */
  def toKafkaWire(df: DataFrame, primaryKey: Seq[String],
                  headers: Map[String, String] = Map()): DataFrame = {
    val key = concat(primaryKey.sorted.map(c => col(c).cast("string")): _*)
    val value = to_json(struct(df.columns.toIndexedSeq.map(col): _*))
    val hdrs = array(headers.toSeq.sortBy(_._1).map { case (k, v) =>
      struct(lit(k).as("key"), lit(v).cast("binary").as("value"))
    }: _*)
    val base = df.select(key.as("key"), value.as("value"))
    if (headers.isEmpty) base
    else df.select(key.as("key"), value.as("value"), hdrs.as("headers"))
  }

  /** Decode the JSON wire format back (from_json + value.* — the reference's
    * Kafka read shape, engine/spark.py:994-1003).
    */
  def fromKafkaWire(df: DataFrame, schema: StructType): DataFrame =
    df.select(from_json(col("value").cast("string"), schema).as("v"))
      .select("v.*")

  /** Encode complex-typed features (array/map/struct) to `binary` for the
    * online path (reference Avro-encodes complex features,
    * engine/spark.py:534-549; JSON bytes here — spark-avro absent — with
    * the same schema contract and column shape).
    */
  def encodeComplexFeatures(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    df.select(df.schema.fields.toIndexedSeq.map { f =>
      f.dataType match {
        case _: ArrayType | _: MapType | _: StructType =>
          to_json(col(f.name)).cast(BinaryType).as(f.name)
        case _ => col(f.name)
      }
    }: _*)
  }

  /** Decode complex features back to their declared types
    * (reference decoders, core/vector_server.py:994-1064).
    */
  def decodeComplexFeatures(df: DataFrame, declared: StructType): DataFrame = {
    import org.apache.spark.sql.types._
    df.select(declared.fields.toIndexedSeq.map { f =>
      (f.dataType, df.schema(f.name).dataType) match {
        case (t @ (_: ArrayType | _: MapType | _: StructType), BinaryType) =>
          from_json(col(f.name).cast("string"), t).as(f.name)
        case _ => col(f.name)
      }
    }: _*)
  }

  /** Rolling monitoring window (core/monitoring_window_config_engine.py
    * :86-230): [now - size - offset, now - offset). Millis in, (start,
    * end) millis out.
    */
  def rollingWindow(nowMillis: Long, sizeMillis: Long,
                    offsetMillis: Long = 0L): (Long, Long) =
    (nowMillis - offsetMillis - sizeMillis, nowMillis - offsetMillis)
}
