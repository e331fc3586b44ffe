package graft.etl

import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Pre-process stage: surrogate-key minting, internal-id attachment,
  * dictionary-whitelist pruning, and metadata stamping (reference:
  * PreProcessUtils.scala:14-105, PreProcessETL.scala:53-88).
  *
  * The reference's id flow collects every (hash, entity) pair to the
  * driver and POSTs them to an HTTP id server
  * (PreProcessUtils.scala:96-101) — a driver-memory and coordination
  * bottleneck that cannot survive 100 TB. Here id resolution is a
  * pluggable [[IdResolver]]: the default derives the internal id from
  * the key hash itself (per-row expression, zero shuffle, same
  * uniqueness guarantees as the hash); external mappings join
  * distributed on the key column instead of round-tripping the driver.
  */
object PreProcess {
  import Indexes.ClinicalInputs.Table

  /** Pluggable internal-id source. */
  trait IdResolver {
    /** Fast path: a per-row expression over (entity_kind, entity_key)
      * columns — attached with `withColumn`, no join, no shuffle. */
    def asColumn: Option[Column] = None

    /** Join path: map a frame of distinct `entity_key` rows to
      * (entity_key, internal_id). */
    def resolve(keys: DataFrame): DataFrame =
      throw new UnsupportedOperationException(
        "columnar resolver: use asColumn")
  }

  /** Default: derive the id from the key hash — "<entity>_<key12>".
    * Deterministic, collision-safe to the same degree as the sha1 key,
    * and purely map-side. */
  object HashDerivedIds extends IdResolver {
    override def asColumn: Option[Column] = Some(
      concat(col("entity_kind"), lit("_"),
        substring(col("entity_key"), 1, 12)))
  }

  /** Fixture-backed resolver — the test double for the reference's
    * id-server mock (idserver/hash.json). Small map → broadcast join. */
  final case class MapIds(spark: SparkSession, ids: Map[String, String])
      extends IdResolver {
    override def resolve(keys: DataFrame): DataFrame = {
      import spark.implicits._
      keys.join(
        broadcast(ids.toSeq.toDF("entity_key", "internal_id")),
        Seq("entity_key"), "left")
    }
  }

  /** Stamp `entity_kind` + sha1 `entity_key` (the reference's
    * cqdg_entity / cqdg_hash pair: sha1 of the "_"-joined entity name
    * and key columns, PreProcessUtils.scala:17-91). */
  def mintKey(df: DataFrame, t: Table): DataFrame =
    df.withColumn("entity_kind", lit(t.entity))
      .withColumn("entity_key",
        GraftFunctions.entityKey(t.entity, t.keyCols.map(col): _*))

  /** Mint the key, resolve and attach `internal_<entity>_id`, drop the
    * raw key (the reference drops cqdg_hash after the id join,
    * PreProcessUtils.scala:100-103). */
  def attachInternalId(
      df: DataFrame, t: Table, resolver: IdResolver): DataFrame = {
    val minted = mintKey(df, t)
    val idName = s"internal_${t.entity}_id"
    val withId = resolver.asColumn match {
      case Some(c) => minted.withColumn(idName, c)
      case None =>
        minted
          .join(resolver.resolve(minted.select("entity_key").distinct()),
            Seq("entity_key"), "left")
          .withColumnRenamed("internal_id", idName)
    }
    withId.drop("entity_key")
  }

  /** Dictionary-whitelist pruning: drop every column not in the schema
    * (reference: PreProcessETL.scala:68-75). */
  def whitelist(df: DataFrame, allowed: Seq[String]): DataFrame =
    df.drop(df.columns.filterNot(allowed.contains).toIndexedSeq: _*)

  /** Stamp literal metadata columns (the reference adds
    * dictionary_version / study_version / study_version_creation_date
    * to `study`, PreProcessETL.scala:77-82). */
  def stampMetadata(df: DataFrame, meta: Seq[(String, String)]): DataFrame =
    meta.foldLeft(df) { case (d, (k, v)) => d.withColumn(k, lit(v)) }

  /** Full pre-process of one raw entity table: mint + id + whitelist
    * (+ metadata stamp for `study`). The schema lists the DICTIONARY
    * columns; the minted `entity_kind` and `internal_<entity>_id`
    * survive pruning implicitly, like the reference's schema columns
    * appended by its dictionary client. */
  def preProcessEntity(
      name: String,
      df: DataFrame,
      schema: Seq[String],
      resolver: IdResolver = HashDerivedIds,
      studyMeta: Seq[(String, String)] = Seq.empty): DataFrame = {
    val sanitized = GraftFunctions.sanitize(name)
    val t = Indexes.ClinicalInputs.Entities.find(_.stage == sanitized)
      .getOrElse(
        throw new IllegalArgumentException(s"no entity spec for $name"))
    val withId = attachInternalId(df, t, resolver)
    val allowed = schema ++ Seq("entity_kind", s"internal_${t.entity}_id")
    val pruned = whitelist(withId, allowed)
    if (sanitized == "study") stampMetadata(pruned, studyMeta) else pruned
  }
}
