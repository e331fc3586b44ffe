package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.etl.{Indexes, JsonDictionary, Pipeline}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** One end-to-end operation a workload repeats. `run` is the timed
  * part; `check` is the output gate for the last run, outside the
  * timed window, and returns its errors (empty when correct). */
trait Operation {
  def run(tr: Tracer): Unit
  def check(): Seq[String]
  /** Input entity rows and TSV bytes one run consumes. */
  def inputRows: Long
  def inputBytes: Long
  /** Bytes of index the last run wrote. */
  def outputBytes: Long
  /** Digest of the documents the last correct run produced. */
  def contentDigest: String
}

/** `graft.Main process` on the corpus: pre-process then process, with
  * the corpus's dictionary.json through JsonDictionary, writing the
  * three JSON indexes. */
final class PipelineBuild(
    spark: SparkSession, corpus: String, work: String, m: Manifest)
    extends Operation {
  private var digest: Option[String] = None
  val indexDir = s"$work/indexes"

  def run(tr: Tracer): Unit = tr.span("op.pipeline") {
    val dict = JsonDictionary(spark, s"$corpus/dictionary.json")
    val entities = tr.span("etl.preprocess") {
      Pipeline.preProcessStage(spark, corpus, s"$work/stage1",
        dictionary = dict)
    }
    tr.span("etl.index_write") {
      Pipeline.processStage(spark, corpus, entities, indexDir)
    }
  }

  /** The first correct build fixes the digest later builds must match. */
  def check(): Seq[String] = {
    val v = Gate.checkIndexes(indexDir, m, digest)
    if (v.errors.isEmpty) digest = Some(v.digest)
    v.errors
  }

  def contentDigest: String = digest.getOrElse("")
  def inputRows: Long = m.tsvRows
  def inputBytes: Long = m.tsvBytes
  def outputBytes: Long = Gate.partFiles(indexDir, ".json").map(_.length).sum
}

/** The stored study index's incremental path: refresh one study from
  * the study-partitioned clinical catalog, then read its document
  * back. `setup` writes the catalog and the store from the corpus. */
final class StudyRefresh(
    spark: SparkSession, corpus: String, work: String, m: Manifest,
    val study: String) extends Operation {
  private val catalog = s"$work/catalog"
  private val store = s"$work/store"
  private var expected = Seq.empty[String]
  private var readBack = Seq.empty[String]

  /** Writes the catalog and the store, and keeps the full rebuild's
    * document for `study`: the store's read view must equal it.
    * Returns the full rebuild's gate errors: one doc per study, each
    * with its study's donor count. */
  def setup(): Seq[String] = {
    val t0 = System.nanoTime()
    Indexes.writeClinicalCatalog(
      Indexes.ClinicalInputs.fromDir(spark, corpus), catalog)
    val t1 = System.nanoTime()
    val full = Indexes.studyIndex(Indexes.readClinicalCatalog(spark, catalog))
      .persist(StorageLevel.MEMORY_AND_DISK)
    Indexes.writeStudyIndexStore(full, store)
    val t2 = System.nanoTime()
    expected = full.filter(col("study_id") === study).toJSON.collect()
      .toSeq.sorted
    val donors = full.select(col("study_id"), col("summary.n_donors")).collect()
      .toSeq.map(r => r.getString(0) -> r.getLong(1))
    full.unpersist(true)
    System.err.println(f"[perfbench] refresh setup: catalog ${(t1 - t0) / 1e9}%.3f s, " +
      f"store ${(t2 - t1) / 1e9}%.3f s, expected ${(System.nanoTime() - t2) / 1e9}%.3f s")
    val perStudy = donors.groupBy(_._1).map { case (s, d) => s -> d.size }
    (if (perStudy != m.studies.map(_ -> 1).toMap)
       Seq(s"studyIndex has ${donors.size} docs for ${perStudy.size} " +
         s"studies, want one for each of ${m.studies.size}")
     else Nil) ++ Gate.studyDonorErrors(donors, m)
  }

  def run(tr: Tracer): Unit = tr.span("op.refresh") {
    tr.span("etl.refresh.rebuild") {
      Indexes.refreshStudyIndexStore(spark, store, catalog, Seq(study), Nil)
    }
    readBack = tr.span("etl.refresh.readback") {
      Indexes.readStudyIndexStore(spark, store, Seq(study)).toJSON.collect()
        .toSeq
    }
  }

  def check(): Seq[String] =
    if (expected.size != 1) Seq(s"full rebuild has ${expected.size} docs for $study")
    else if (readBack.sorted != expected) {
      def dump(name: String, docs: Seq[String]): Unit = Files.write(
        Paths.get(s"$work/$name"), docs.mkString("", "\n", "\n").getBytes(UTF_8))
      dump("mismatch-expected.json", expected)
      dump("mismatch-readback.json", readBack)
      val where = if (readBack.size == 1) Gate.firstDifference(expected.head,
        readBack.head) else s"${readBack.size} docs read back"
      Seq(s"read-back of $study differs from the full studyIndex rebuild, " +
        s"first at $where (both in $work/mismatch-*.json)")
    } else Nil

  def contentDigest: String = Gate.digest(Seq(study -> readBack))
  def inputRows: Long = m.studyRows(study)
  def inputBytes: Long = m.studyTsvBytes(study)
  def outputBytes: Long =
    Gate.partFiles(s"$store/docs/__study_pt=$study", ".parquet").map(_.length).sum
}
