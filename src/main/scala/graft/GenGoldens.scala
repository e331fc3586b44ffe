package graft

import graft.core.Session
import graft.ops.{Dedup, Multimodal, Similarity, Text}
import graft.sources.Sources
import org.apache.spark.sql.functions._

/** Regenerates the golden TSV fixtures for the deterministic JVM-side
  * operators whose outputs DuckDB cannot recompute (xxhash64 chains,
  * scala MurmurHash3, the SimpleDateFormat-parity age UDF) — the
  * snapshot device of the reference's own test harness (reference:
  * PreProcessETLTest.scala:68-78 `ClassGenerator.writeCLassFile`
  * regenerates the `*Expected` classes from actual output).
  *
  * The goldens are COMMITTED and reviewed: the semantic properties the
  * snapshots must honor (planted near-dup pairs found, hand-computed
  * ages, byte counts) are asserted independently in DedupSpec /
  * GraftFunctionsSpec / the fixture-golden rows themselves, so a
  * regression that silently changes a hash chain fails the oracle
  * compare rather than being re-snapshotted unnoticed.
  *
  * Run: `sbt "runMain graft.GenGoldens"` after an INTENTIONAL semantic
  * change, then review the fixture diff.
  */
object GenGoldens {
  private val Dir = "src/test/resources/clinical"

  def main(args: Array[String]): Unit = {
    val spark = Session.local(4)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def writeTsv(rows: Seq[String], header: String, file: String): Unit = {
      val p = java.nio.file.Paths.get(s"$Dir/$file")
      java.nio.file.Files.writeString(p, (header +: rows).mkString("", "\n", "\n"))
      println(s"wrote $p (${rows.size} rows)")
    }

    val docs = Sources.tsv(spark, s"$Dir/docs_planted.tsv")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))

    // q_simhash_neardup golden: (a, b, hamming) over the planted corpus
    val pairs = Dedup.simhashNearDups(
        docs.withColumn("sh", Text.shingles(col("text"), 3)),
        id = "doc_id", features = col("sh"), maxHamming = 3, bands = 4)
      .orderBy("a", "b")
      .as[(Long, Long, Int)].collect()
    writeTsv(pairs.map(p => s"${p._1}\t${p._2}\t${p._3}").toSeq,
      "a\tb\thamming", "golden_simhash_pairs.tsv")

    // q_fingerprint_rolling golden: (doc_id, fingerprint)
    val fps = docs
      .select(col("doc_id"), Text.fingerprintRolling(col("text"))
        .as("fingerprint"))
      .orderBy("doc_id").as[(Long, Long)].collect()
    writeTsv(fps.map(p => s"${p._1}\t${p._2}").toSeq,
      "doc_id\tfingerprint", "golden_rolling_fp.tsv")

    // q_compression_ratio golden: (doc_id, compression_ratio @ 4dp)
    val ratios = Text.compressionRatios(docs, "doc_id", "text")
      .select(col("doc_id"), round(col("compression_ratio"), 4)
        .as("compression_ratio"))
      .orderBy("doc_id").as[(Long, Double)].collect()
    writeTsv(ratios.map(p => s"${p._1}\t${p._2}").toSeq,
      "doc_id\tcompression_ratio", "golden_compression.tsv")

    // q_simhash_scale golden: the same operator over the sf0.01
    // documents table (the driver's fixed correctness SF — TESTDATA.md).
    // Deterministic: xxhash64 vote chain over a static corpus.
    val scaleDocs = "/root/testdata/sf0.01/documents.parquet"
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(scaleDocs))) {
      val scalePairs = Dedup.simhashNearDups(
          spark.read.parquet(scaleDocs)
            .select(col("doc_id"), col("text"))
            .withColumn("sh", Text.shingles(col("text"), 3)),
          id = "doc_id", features = col("sh"), maxHamming = 3, bands = 4)
        .orderBy("a", "b")
        .as[(Long, Long, Int)].collect()
      writeTsv(scalePairs.map(p => s"${p._1}\t${p._2}\t${p._3}").toSeq,
        "a\tb\thamming", "golden_simhash_scale.tsv")
    } else println(s"skipped golden_simhash_scale.tsv ($scaleDocs missing)")

    // q_bloom_novel golden: doc_ids surviving the bloom novelty gate at
    // the correctness SF (deterministic xxhash64 probes; a dedicated
    // dup-check below guards the no-false-negative contract so a
    // regression cannot be silently re-snapshotted)
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(scaleDocs))) {
      val docs = spark.read.parquet(scaleDocs)
        .withColumn("fp", Text.fingerprintMd5(col("text")))
      val bloom = graft.ops.Bloom.build(
        docs.filter(col("doc_id") < 400).select("fp"), col("fp"),
        mBits = 1 << 16, k = 4)
      val survivors = graft.ops.Bloom.filterNovel(docs, bloom, col("fp"))
      val novel =
        survivors.select(col("doc_id")).orderBy("doc_id").as[Long].collect()
      // contract: nothing from the corpus half may survive
      val corpusFps = docs.filter(col("doc_id") < 400)
        .select("fp").as[String].collect().toSet
      val survivorFps = survivors.select("fp").as[String].collect().toSet
      require(survivorFps.intersect(corpusFps).isEmpty,
        "bloom golden violates the no-false-negative contract")
      writeTsv(novel.map(_.toString).toSeq, "doc_id", "golden_bloom_novel.tsv")
    } else println(s"skipped golden_bloom_novel.tsv ($scaleDocs missing)")

    // q_media_features golden: (media_id, n_bytes, fingerprint)
    val media = docs.select(
      col("doc_id").as("media_id"),
      col("text").cast("binary").as("payload"),
      struct(lit("image").as("kind"), lit("bin").as("format"),
        lit(4).as("width"), lit(4).as("height"),
        lit(0).as("sampleRate"), lit(0L).as("durationMs")).as("meta"))
      .as[Multimodal.MediaRow]
    val feats = Multimodal.extractFeatures(media, dim = 8).toDF()
      .select(col("media_id"), col("n_bytes"), col("fingerprint"))
      .orderBy("media_id").as[(Long, Long, Long)].collect()
    writeTsv(feats.map(p => s"${p._1}\t${p._2}\t${p._3}").toSeq,
      "media_id\tn_bytes\tfingerprint", "golden_media_features.tsv")

    // q_media_phash golden: (media_id, phash) — locks the full DCT →
    // median-threshold → bit-pack kernel (dim 65: full 64-bit acuity)
    val phashes = Multimodal.perceptualHashes(
        Multimodal.extractFeatures(media, dim = 65)).toDF()
      .orderBy("media_id").as[(Long, Long)].collect()
    writeTsv(phashes.map(p => s"${p._1}\t${p._2}").toSeq,
      "media_id\tphash", "golden_media_phash.tsv")

    // q_media_phash_real / q_media_neardup_real goldens: REAL pixels —
    // javax.imageio decode over the deterministic synthetic-PNG corpus
    // (integer-only patterns; PNG is lossless, so decoded pixels are
    // identical even if PNG encoder bytes differ across JDKs).
    // MultimodalSpec asserts the semantic contract (planted dups within
    // Hamming 3, distinct bases apart) independently of the snapshot.
    locally {
      val corpus = graft.queries.MediaQueries.realMediaCorpus(spark)
      val feats = Multimodal.extractFeatures(
        corpus, graft.ops.ImageIo.ImageIoDecoder, dim = 65)
      val realHashes = Multimodal.perceptualHashes(feats).toDF()
        .orderBy("media_id").as[(Long, Long)].collect()
      writeTsv(realHashes.map(p => s"${p._1}\t${p._2}").toSeq,
        "media_id\tphash", "golden_media_phash_real.tsv")
      val realPairs = Multimodal.phashNearDups(feats, maxHamming = 3, bands = 4)
        .orderBy("a", "b").as[(Long, Long, Int)].collect()
      writeTsv(realPairs.map(p => s"${p._1}\t${p._2}\t${p._3}").toSeq,
        "a\tb\thamming", "golden_media_pairs_real.tsv")
    }

    // q_bpe_vocab / q_bpe_tokens goldens at the correctness SF: the
    // distributed BPE trainer is deterministic (lexicographic pair
    // tie-breaks), so the committed snapshot hash-checks the full
    // learn → tokenize pipeline; BpeSpec pins the hand-computed
    // Sennrich-example merge sequence independently.
    locally {
      val docsPath = "/root/testdata/sf0.01/documents.parquet"
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(docsPath))) {
        val sfDocs = spark.read.parquet(docsPath)
        val merges = graft.ops.Bpe.learnMerges(
          graft.ops.Bpe.wordCounts(sfDocs, col("text")), numMerges = 20)
        writeTsv(merges.zipWithIndex
            .map { case ((a, b), r) => s"$r\t$a\t$b" },
          "rank\ta\tb", "golden_bpe_vocab.tsv")
        val toks = graft.ops.Bpe.tokenize(sfDocs, "doc_id", col("text"), merges)
          .select(col("doc_id"), col("n_tok"),
            md5(concat_ws("", col("tokens"))).as("tok_md5"))
          .orderBy("doc_id").as[(Long, Long, String)].collect()
        writeTsv(toks.map(t => s"${t._1}\t${t._2}\t${t._3}").toSeq,
          "doc_id\tn_tok\ttok_md5", "golden_bpe_tokens.tsv")
      } else println(s"skipped golden_bpe_*.tsv ($docsPath missing)")
    }

    // q_unigram_vocab / q_unigram_tokens goldens at the correctness
    // SF: the Viterbi-EM trainer is deterministic (strictly-better
    // updates over ascending split points; count-desc/piece-asc prune)
    // and publishes exact integer counts, so the committed snapshot
    // hash-checks the full seed → EM → prune → tokenize pipeline;
    // UnigramSpec pins hand-computed Viterbi/EM behavior independently.
    locally {
      val docsPath = "/root/testdata/sf0.01/documents.parquet"
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(docsPath))) {
        val sfDocs = spark.read.parquet(docsPath)
        val vocab = graft.ops.Unigram.train(
          graft.ops.Bpe.wordCounts(sfDocs, col("text")), vocabSize = 200)
        writeTsv(vocab.zipWithIndex
            .map { case ((p, c), r) => s"$r\t$p\t$c" },
          "rank\tpiece\tcnt", "golden_unigram_vocab.tsv")
        val toks = graft.ops.Unigram
          .tokenize(sfDocs, "doc_id", col("text"), vocab)
          .select(col("doc_id"), col("n_tok"),
            md5(concat_ws("", col("tokens"))).as("tok_md5"))
          .orderBy("doc_id").as[(Long, Long, String)].collect()
        writeTsv(toks.map(t => s"${t._1}\t${t._2}\t${t._3}").toSeq,
          "doc_id\tn_tok\ttok_md5", "golden_unigram_tokens.tsv")
      } else println(s"skipped golden_unigram_*.tsv ($docsPath missing)")
    }

    // q_video_phash_real golden: RIFF/AVI walk + real JPEG frame decode
    // → temporal luminance signature → pHash. JPEG decode is
    // deterministic for fixed bytes on this JDK (the same environment
    // pin every ANN golden carries).
    locally {
      val video = graft.queries.MediaQueries.realVideoCorpus(spark)
      val hashes = Multimodal.perceptualHashes(
          Multimodal.extractFeatures(
            video, graft.ops.VideoIo.MjpegDecoder, dim = 65)).toDF()
        .orderBy("media_id").as[(Long, Long)].collect()
      writeTsv(hashes.map(p => s"${p._1}\t${p._2}").toSeq,
        "media_id\tphash", "golden_video_phash_real.tsv")
      // q_video_shared_frames golden: exact frame-fingerprint matches
      val frames = graft.ops.VideoIo.explodeFrames(video)
        .select(col("media_id"), md5(col("frame")).as("fp"))
        .localCheckpoint()
      val shared = frames.select(col("media_id").as("va"), col("fp"))
        .join(frames.select(col("media_id").as("vb"), col("fp")), Seq("fp"))
        .filter(col("va") < col("vb"))
        .groupBy(col("va"), col("vb"))
        .agg(count(lit(1)).as("n_shared"))
        .orderBy("va", "vb").as[(Long, Long, Long)].collect()
      writeTsv(shared.map(t => s"${t._1}\t${t._2}\t${t._3}").toSeq,
        "va\tvb\tn_shared", "golden_video_shared.tsv")
    }

    // q_audio_phash_real golden: REAL PCM decode (javax.sound) over the
    // deterministic synthetic-WAV corpus — integer-exact end to end.
    locally {
      val audio = graft.queries.MediaQueries.realAudioCorpus(spark)
      val hashes = Multimodal.perceptualHashes(
          Multimodal.extractFeatures(
            audio, graft.ops.AudioIo.WavDecoder, dim = 65)).toDF()
        .orderBy("media_id").as[(Long, Long)].collect()
      writeTsv(hashes.map(p => s"${p._1}\t${p._2}").toSeq,
        "media_id\tphash", "golden_audio_phash_real.tsv")
    }

    // q_maxsim_ivf golden: the ANN-shortlist → maxsim-rescore scale
    // path at the correctness SF — deterministic end to end
    // (decimal-mean Lloyd + exact maxsim on the 9-grid)
    locally {
      val embPath = "/root/testdata/sf0.01/embeddings.parquet"
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(embPath))) {
        val v = col("embedding").cast("array<double>")
        val mv = spark.read.parquet(embPath).select(col("vec_id"),
          array(slice(v, 1, 16), slice(v, 17, 16),
            slice(v, 33, 16), slice(v, 49, 16)).as("vs"))
        val rows = Similarity.maxSimIvfTopK(
            mv, mv.filter(col("vec_id") < 5), "vec_id", "vs", k = 3,
            shortlist = 50, numCentroids = 16, nProbe = 8)
          .select(col("query_id"), col("neighbor_id"), col("rank"),
            round(col("maxsim"), 6).as("maxsim"))
          .orderBy("query_id", "rank")
          .as[(Long, Long, Int, Double)].collect()
          .map(p => s"${p._1}\t${p._2}\t${p._3}\t${p._4}").toSeq
        writeTsv(rows, "query_id\tneighbor_id\trank\tmaxsim",
          "golden_maxsim_ivf.tsv")
      } else println(s"skipped golden_maxsim_ivf.tsv ($embPath missing)")
    }

    // q_knn_lsh / q_knn_ivf goldens at the correctness SF: both
    // operators are deterministic end to end — seeded hyperplanes
    // (spec'd LCG), xxhash64-seeded + decimal-mean Lloyd centroids,
    // bounded-heap ranks tie-broken by neighbor id — so the committed
    // snapshot turns the last two rows-only queries into hash-checked
    // ones. Recall quality itself stays guarded by SimilaritySpec's
    // brute-force comparisons; the golden locks reproducibility.
    val embPath = "/root/testdata/sf0.01/embeddings.parquet"
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(embPath))) {
      val e = spark.read.parquet(embPath)
      def annRows(df: org.apache.spark.sql.DataFrame): Seq[String] = df
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "rank")
        .as[(Long, Long, Int, Double)].collect()
        .map(p => s"${p._1}\t${p._2}\t${p._3}\t${p._4}").toSeq
      writeTsv(annRows(Similarity.lshTopK(
          corpus = e, queries = e.filter(col("vec_id") < 10),
          id = "vec_id", vec = "embedding", k = 5, bits = 4, dim = 64)),
        "query_id\tneighbor_id\trank\tcosine", "golden_knn_lsh.tsv")
      writeTsv(annRows(Similarity.ivfTopK(
          corpus = e, queries = e.filter(col("vec_id") < 10),
          id = "vec_id", vec = "embedding", k = 5,
          numCentroids = 16, nProbe = 8)),
        "query_id\tneighbor_id\trank\tcosine", "golden_knn_ivf.tsv")
      // q_mmr_ivf: MMR-diversified IVF shortlist (deterministic like
      // the shortlist itself; parameters match the query face)
      writeTsv(
        graft.ops.Diversity.mmrRescore(
            Similarity.ivfTopK(
                corpus = e, queries = e.filter(col("vec_id") < 10),
                id = "vec_id", vec = "embedding", k = 20,
                numCentroids = 16, nProbe = 8)
              .select(col("query_id"), col("neighbor_id")),
            corpus = e, queries = e.filter(col("vec_id") < 10),
            id = "vec_id", vec = "embedding", k = 5)
          .orderBy("query_id", "rank")
          .as[(Long, Int, Long, Long)].collect()
          .map(p => s"${p._1}\t${p._2}\t${p._3}\t${p._4}").toSeq,
        "query_id\trank\tneighbor_id\tmmr_u", "golden_mmr_ivf.tsv")
      // q_knn_pq: deterministic like the others (L2-argmin codes with
      // cid tie-break over decimal-mean codebooks); parameters match
      // the query face and the SimilaritySpec recall guard
      val cb = Similarity.pqCodebooks(
        e, "vec_id", "embedding", m = 32, k = 16, refineIters = 2)
      writeTsv(annRows(Similarity.pqTopK(
          Similarity.pqEncode(e, "vec_id", "embedding", cb),
          queries = e.filter(col("vec_id") < 10),
          id = "vec_id", vec = "embedding", k = 5, codebooks = cb)),
        "query_id\tneighbor_id\trank\tcosine", "golden_knn_pq.tsv")
      // q_knn_ivfpq: the composed index (same parameters as the face,
      // including the exact re-rank stage — IVFADC-R)
      val ivfpqDir = java.nio.file.Files
        .createTempDirectory("golden_ivfpq").toString
      Similarity.ivfPqBuild(e, "vec_id", "embedding", ivfpqDir,
        numCentroids = 16, m = 32, k = 16, refineIters = 2)
      writeTsv(annRows(Similarity.ivfPqQuery(
          e.filter(col("vec_id") < 10), ivfpqDir,
          "vec_id", "embedding", k = 5, nProbe = 8, rerank = 50)),
        "query_id\tneighbor_id\trank\tcosine", "golden_knn_ivfpq.tsv")
    } else println(s"skipped golden_knn_*.tsv ($embPath missing)")

    // q_stream_ingest golden: accepted doc_ids after replaying the
    // documents corpus through the streaming near-dup ingest sink as
    // three micro-batches (doc_id % 3). Deterministic: xxhash64
    // banding + min-id-greedy drop rule over static data. The
    // EventStreamSpec restart/replay cases guard the sink's semantics
    // independently of this snapshot.
    locally {
      val docsPath = "/root/testdata/sf0.01/documents.parquet"
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(docsPath))) {
        val dir = java.nio.file.Files
          .createTempDirectory("golden_ingest").toString
        val sfDocs = spark.read.parquet(docsPath)
          .withColumn("sh", Text.shingles(col("text"), 3))
          .select("doc_id", "sh")
        (0 until 3).foreach { b =>
          graft.streaming.EventStream.nearDupIngestSink(
            dir, "doc_id", "sh")(
            sfDocs.filter(col("doc_id") % 3 === b), b.toLong)
        }
        val accepted = graft.streaming.EventStream
          .readAccepted(spark, dir)
          .select("doc_id").orderBy("doc_id").as[Long].collect()
        writeTsv(accepted.map(_.toString).toSeq, "doc_id",
          "golden_stream_ingest.tsv")
      } else println(s"skipped golden_stream_ingest.tsv ($docsPath missing)")
    }

    // q_pack_ffd golden: per-source FFD bin assignment over the
    // correctness-SF documents (deterministic: total-order sort +
    // sequential first-fit per shard). PackingSpec pins the textbook
    // example + capacity/waste properties independently.
    locally {
      val docsPath = "/root/testdata/sf0.01/documents.parquet"
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(docsPath))) {
        val rows = graft.ops.Packing.binPackFFD(
            spark.read.parquet(docsPath), "source", "doc_id", "n_chars",
            maxTokens = 400)
          .orderBy("shard", "doc_id")
          .as[(String, Long, Long, Long)].collect()
        writeTsv(rows.map(r => s"${r._1}\t${r._2}\t${r._3}\t${r._4}").toSeq,
          "shard\tdoc_id\tn_tok\tbin", "golden_pack_ffd.tsv")
      } else println(s"skipped golden_pack_ffd.tsv ($docsPath missing)")
    }

    // StudiesExpected-style field-for-field golden of the FULL study
    // document over the clinical fixtures (the reference's
    // ClassGenerator snapshot device, StudiesExpected.scala:8-209):
    // every scalar and every nested branch, canonicalized exactly like
    // q_study_index. ReferenceShapeSpec compares byte-for-byte.
    val studyDoc = graft.queries.Canon.flattenNested(
        graft.etl.Indexes.studyIndex(
          graft.etl.Indexes.ClinicalInputs.fromDir(spark, Dir),
          meta = Seq("dictionary_version" -> "9.9",
            "study_version" -> "v42")))
      .orderBy("study_id")
      .toJSON.collect().toSeq
    val sp = java.nio.file.Paths.get(s"$Dir/golden_study_index.jsonl")
    java.nio.file.Files.writeString(sp, studyDoc.mkString("", "\n", "\n"))
    println(s"wrote $sp (${studyDoc.size} rows)")

    // Same ClassGenerator device for the DONOR and FILE documents
    // (reference shapes: DonorIndex.scala:21-113, FileIndex.scala:19-77)
    // — the relational IndexOracles recomputations check the values,
    // these lock the full assembled document byte-for-byte.
    val clinMeta = Seq("dictionary_version" -> "9.9",
      "study_version" -> "v42")
    val clinIn = graft.etl.Indexes.ClinicalInputs.fromDir(spark, Dir)
    val donorDoc = graft.queries.Canon.flattenNested(
        graft.etl.Indexes.donorIndex(clinIn, meta = clinMeta))
      .orderBy("study_id", "submitter_donor_id")
      .toJSON.collect().toSeq
    val dp = java.nio.file.Paths.get(s"$Dir/golden_donor_index.jsonl")
    java.nio.file.Files.writeString(dp, donorDoc.mkString("", "\n", "\n"))
    println(s"wrote $dp (${donorDoc.size} rows)")
    val fileDoc = graft.queries.Canon.flattenNested(
        graft.etl.Indexes.fileIndex(clinIn, meta = clinMeta))
      .orderBy("study_id", "file_name")
      .toJSON.collect().toSeq
    val fp = java.nio.file.Paths.get(s"$Dir/golden_file_index.jsonl")
    java.nio.file.Files.writeString(fp, fileDoc.mkString("", "\n", "\n"))
    println(s"wrote $fp (${fileDoc.size} rows)")

    spark.stop()
  }
}
