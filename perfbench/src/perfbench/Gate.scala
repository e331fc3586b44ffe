package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils

/** What the corpus generator declared about one corpus
  * (`<corpus>.manifest.json`, written by corpus.py). */
final case class Manifest(
    tsvRows: Long,
    tsvBytes: Long,
    studies: Seq[String],
    donorsPerStudy: Map[String, Long],
    filesPerStudy: Map[String, Long],
    studyRows: Map[String, Long],
    studyTsvBytes: Map[String, Long]) {
  def donors: Long = donorsPerStudy.values.sum
  def files: Long = filesPerStudy.values.sum
}

object Manifest {
  def read(path: String): Manifest = {
    val n = new ObjectMapper().readTree(new File(path))
    def counts(field: String): Map[String, Long] =
      n.get(field).properties().asScala
        .map(e => e.getKey -> e.getValue.asLong).toMap
    Manifest(
      tsvRows = n.get("tsv_rows").asLong,
      tsvBytes = n.get("tsv_bytes").asLong,
      studies = n.get("studies").elements().asScala.map(_.asText).toSeq,
      donorsPerStudy = counts("donors_per_study"),
      filesPerStudy = counts("files_per_study"),
      studyRows = counts("study_rows"),
      studyTsvBytes = counts("study_tsv_bytes"))
  }
}

/** The output-correctness gate. Runs outside every timed window.
  *
  * For the three JSON indexes it checks the invariants the generator
  * fixes (one donors doc per donor, one files doc per file, one
  * studies doc per study whose `summary.n_donors` is that study's
  * donor count) and a content digest, which must equal the digest of
  * the first build of the same corpus in the run: every rebuild of
  * unchanged inputs must give the same documents. */
object Gate {
  private val mapper = new ObjectMapper()

  final case class Verdict(digest: String, errors: Seq[String])

  /** (study_id, document line) of every doc in a `study_id=`-partitioned
    * JSON index directory, as Sinks.partitionedJson writes it. */
  def docs(dir: String): Seq[(String, String)] =
    listDirs(new File(dir)).filter(_.getName.startsWith("study_id="))
      .flatMap { d =>
        val study = ExternalCatalogUtils.unescapePathName(
          d.getName.stripPrefix("study_id="))
        partFiles(d.getPath, ".json").flatMap(f =>
          Files.readAllLines(f.toPath, UTF_8).asScala.filter(_.nonEmpty))
          .map(study -> _)
      }

  /** Part files (`part-*<suffix>`) anywhere under `dir`. */
  def partFiles(dir: String, suffix: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.sortBy(_.getName)
        .flatMap(walk)
      else if (f.getName.startsWith("part-") && f.getName.endsWith(suffix))
        Seq(f)
      else Nil
    walk(new File(dir))
  }

  /** Order-insensitive digest of named groups of document lines. */
  def digest(groups: Seq[(String, Seq[String])]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    groups.foreach { case (name, lines) =>
      md.update(s"#$name\n".getBytes(UTF_8))
      lines.sorted.foreach(l => md.update((l + "\n").getBytes(UTF_8)))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Check the donors/studies/files indexes under `dir` against the
    * manifest, and their digest against `expected` when given. */
  def checkIndexes(dir: String, m: Manifest, expected: Option[String])
      : Verdict = {
    val donors = docs(s"$dir/donors")
    val files = docs(s"$dir/files")
    val studies = docs(s"$dir/studies")
    val errors = ArrayBuffer[String]()
    def perStudy(index: String, got: Seq[(String, String)],
        want: Map[String, Long]): Unit = {
      val counts = got.groupBy(_._1).map { case (s, d) => s -> d.size.toLong }
      val wanted = want.filter(_._2 > 0)
      if (counts != wanted) {
        val bad = (counts.keySet ++ wanted.keySet).toSeq.sorted
          .filter(s => counts.get(s) != wanted.get(s)).take(3)
          .map(s => s"$s: ${counts.getOrElse(s, 0L)} docs, want " +
            s"${wanted.getOrElse(s, 0L)}")
        errors += s"$index: docs per study differ (${bad.mkString("; ")})"
      }
    }
    def distinct(index: String, got: Seq[(String, String)], field: String,
        want: Long): Unit = {
      val ids = got.map { case (_, l) => mapper.readTree(l).path(field).asText }
      if (ids.distinct.size != want || ids.size != want)
        errors += s"$index: ${ids.size} docs with ${ids.distinct.size} " +
          s"distinct $field, want $want"
    }
    perStudy("donors", donors, m.donorsPerStudy)
    distinct("donors", donors, "submitter_donor_id", m.donors)
    perStudy("files", files, m.filesPerStudy)
    distinct("files", files, "file_name", m.files)
    perStudy("studies", studies, m.studies.map(_ -> 1L).toMap)
    errors ++= studyDonorErrors(studies.map { case (s, l) =>
      s -> mapper.readTree(l).path("summary").path("n_donors").asLong(-1L) }, m)
    val d = digest(Seq("donors" -> donors, "studies" -> studies,
      "files" -> files).map { case (k, v) => k -> v.map(p => p._1 + "\t" + p._2) })
    expected.filter(_ != d).foreach(e =>
      errors += s"index content digest $d differs from $e")
    Verdict(d, errors.toSeq)
  }

  /** Where two JSON documents first differ: `path: value | value`. */
  def firstDifference(a: String, b: String): String = {
    def show(n: JsonNode) = n.toString.take(120)
    def walk(x: JsonNode, y: JsonNode, path: String): Option[String] =
      if (x == y) None
      else if (x.isObject && y.isObject)
        (x.fieldNames.asScala ++ y.fieldNames.asScala).toSeq.distinct.sorted
          .iterator.flatMap(f => walk(x.path(f), y.path(f), s"$path.$f"))
          .nextOption()
      else if (x.isArray && y.isArray && x.size == y.size)
        (0 until x.size).iterator
          .flatMap(i => walk(x.get(i), y.get(i), s"$path[$i]")).nextOption()
      else Some(s"$path: ${show(x)} | ${show(y)}")
    walk(mapper.readTree(a), mapper.readTree(b), "").getOrElse("none")
  }

  /** Each studies doc's `summary.n_donors` is its study's donor count,
    * so the counts sum to the corpus's donors. */
  def studyDonorErrors(got: Seq[(String, Long)], m: Manifest)
      : Seq[String] = {
    val bad = got.filter { case (s, n) => m.donorsPerStudy.get(s) != Some(n) }
    val total = got.map(_._2).sum
    (if (bad.nonEmpty) Seq(s"studies: n_donors wrong for ${bad.take(3)}")
     else Nil) ++
      (if (total != m.donors) Seq(s"studies: n_donors sum $total, want ${m.donors}")
       else Nil)
  }

  private def listDirs(d: File): Seq[File] =
    Option(d.listFiles).toSeq.flatten.filter(_.isDirectory).sortBy(_.getName)
}
