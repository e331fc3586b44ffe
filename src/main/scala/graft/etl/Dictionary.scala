package graft.etl

import graft.sources.Sources
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dictionary (schema-whitelist) service seam — the reference fetches
  * a Lectern dictionary over HTTP and keeps only field names per
  * entity (reference: clients/DictionaryClient.scala:28-82, trait
  * clients/inf/IDictionary.scala). Here the trait is data-backed:
  * the JSON fixture layout mirrors the reference's schema document.
  */
trait Dictionary {
  /** entity (sanitized name) → allowed column names. */
  def schemas(version: String): Map[String, Seq[String]]
}

/** JSON-document dictionary:
  * `[{version, schemas: [{name, columns: [...]}]}]` (multiline JSON,
  * like the reference's Lectern payload reduced to what the engine
  * uses — the per-entity field-name list). */
final case class JsonDictionary(spark: SparkSession, path: String)
    extends Dictionary {
  override def schemas(version: String): Map[String, Seq[String]] = {
    val doc = Sources.multilineJson(spark, path)
      .filter(col("version") === version)
    val rows = doc
      .select(explode(col("schemas")).as("s"))
      .select(col("s.name"), col("s.columns"))
      .collect()
    require(rows.nonEmpty, s"no dictionary schemas for version $version")
    rows.map(r => r.getString(0) -> r.getSeq[String](1).toSeq).toMap
  }
}
