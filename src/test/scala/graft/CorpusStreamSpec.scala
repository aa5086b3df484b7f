package graft

import java.nio.file.Files

import graft.model.Doc
import graft.operators.Dedup
import graft.streaming.CorpusStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class CorpusStreamSpec extends SparkSpec {

  test("streaming incremental dedup replay-converges to batch incrementalPairs") {
    val s = spark
    import s.implicits._
    val docs = Tables.documents(spark, sf)
    // even/odd split gives a dense enough fresh set at sf0.001 that
    // both pair sources (index probe AND within/across-batch) fire
    val existing = docs.where(pmod(col("doc_id"), lit(2)) =!= 0)
    val freshDf = docs.where(pmod(col("doc_id"), lit(2)) === 0)

    val tmp = Files.createTempDirectory("graft_corpus_stream").toString
    val batchIndex = s"$tmp/index_batch"
    val streamIndex = s"$tmp/index_stream"
    val pairsPath = s"$tmp/pairs"
    // the one-shot batch expectation (seeds batchIndex itself)
    val expected = Dedup.incrementalPairs(existing, freshDf, batchIndex)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.nonEmpty, "fixture too sparse: no incremental pairs to converge on")

    // seed the stream's index with the SAME existing-corpus bands
    CorpusStream.seedIndex(existing, streamIndex)

    // replay the fresh set in three micro-batches
    val fresh = freshDf.select("doc_id", "text", "lang", "source", "n_chars")
      .as[Doc].collect().toSeq
    val splits = fresh.grouped(math.max(1, fresh.size / 3 + 1)).toSeq
    val input = MemoryStream[Doc](s)
    val q = CorpusStream.incrementalDedup(input.toDF(), streamIndex, pairsPath)
      .start()
    try {
      for (chunk <- splits) {
        input.addData(chunk)
        q.processAllAvailable() // force a micro-batch boundary per chunk
      }
    } finally q.stop()

    val got = spark.read.parquet(pairsPath).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected,
      s"stream/batch divergence: missing=${expected -- got} extra=${got -- expected}")
    // and the folded index now covers the whole corpus: re-probing the
    // same fresh docs yields no NEW pairs beyond re-findings (idempotent
    // refresh — every candidate was already emitted)
    val again = spark.read.parquet(streamIndex).select("doc_id").distinct().count()
    assert(again == Dedup.minhashBanded(docs).select("doc_id").distinct().count())
  }

  test("streaming line dedup replay is BIT-EXACT against the batch keep-first pass") {
    val s = spark
    import s.implicits._
    val docs = Tables.documents(spark, sf)
    // batch expectation over the WHOLE corpus
    val expected = graft.operators.TextAnalysis.lineDedup(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    val tmp = Files.createTempDirectory("graft_linededup_stream").toString
    val indexPath = s"$tmp/digests"
    val statsPath = s"$tmp/stats"
    // empty seed (whole corpus arrives through the stream) — doc_id-
    // ordered batches, the convergence precondition the scaladoc states
    CorpusStream.seedLineIndex(docs.where(lit(false)), indexPath)
    val ordered = docs.select("doc_id", "text", "lang", "source", "n_chars")
      .orderBy("doc_id").as[Doc].collect().toSeq
    val splits = ordered.grouped(math.max(1, ordered.size / 3 + 1)).toSeq
    val input = MemoryStream[Doc](s)
    val q = CorpusStream.incrementalLineDedup(input.toDF(), indexPath, statsPath)
      .start()
    try {
      for (chunk <- splits) {
        input.addData(chunk)
        q.processAllAvailable()
      }
    } finally q.stop()
    val got = spark.read.parquet(statsPath)
      .select("doc_id", "n_lines", "n_kept", "words_kept", "sum_h").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(got == expected,
      s"stream/batch divergence: missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
    // restart idempotence: re-delivering the LAST batch changes nothing
    // (seen reads only batch_id < this one, folds overwrite in place)
    // partition columns read back as int — cast before the unbox
    val lastId = spark.read.parquet(statsPath)
      .agg(max(col("batch_id")).cast("long")).collect()(0).getLong(0)
    CorpusStream.lineDedupBatch(splits.last.toDF(), lastId, indexPath, statsPath)
    val again = spark.read.parquet(statsPath)
      .select("doc_id", "n_lines", "n_kept", "words_kept", "sum_h").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(again == expected, "replayed micro-batch changed the stats table")
  }

  test("streaming curriculum: shuffled out-of-order ingest still derives the batch order bit-exactly") {
    val s = spark
    import s.implicits._
    val docs = Tables.documents(spark, sf)
    val expected = graft.operators.TextAnalysis.curriculum(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val tmp = Files.createTempDirectory("graft_curriculum_stream").toString
    val indexPath = s"$tmp/keys"
    // SHUFFLED ingest — the twin claims NO ordering precondition (the
    // order derives from the full stored key set, not arrival order)
    val shuffled = docs.select("doc_id", "text", "lang", "source", "n_chars")
      .orderBy(pmod(col("doc_id") * 2654435761L, lit(997L)), col("doc_id"))
      .as[Doc].collect().toSeq
    val splits = shuffled.grouped(math.max(1, shuffled.size / 3 + 1)).toSeq
    val input = MemoryStream[Doc](s)
    val q = CorpusStream.incrementalCurriculum(input.toDF(), indexPath).start()
    try {
      for (chunk <- splits) { input.addData(chunk); q.processAllAvailable() }
    } finally q.stop()
    val got = CorpusStream.curriculumFromIndex(spark, indexPath).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.sameElements(expected),
      s"stream/batch divergence: got ${got.take(3).toSeq} vs ${expected.take(3).toSeq}")
    // replay idempotence: re-delivering the last batch changes nothing
    CorpusStream.curriculumBatch(splits.last.toDF(), (splits.size - 1).toLong, indexPath)
    val again = CorpusStream.curriculumFromIndex(spark, indexPath).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(again.sameElements(expected), "replayed micro-batch changed the ordering")
  }

  test("streaming extraction head replay-converges to pipe_web's batch chain") {
    val s = spark
    import s.implicits._
    import graft.operators.{TextAnalysis, TrainingPipeline}
    val pages = spark.read.text(graft.sources.Sources.htmlCorpusDir(spark, sf))
    // batch expectations: the extracted corpus itself, bit-exact, AND
    // the seven-stage cleaning summary over it (pipe_web's gate frame)
    val expectedCorpus = TextAnalysis.extractedCorpus(pages).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
      .toSet
    val expectedSummary = TrainingPipeline.summary(TextAnalysis.extractedCorpus(pages))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    Cleanup.releaseAll(spark)

    val tmp = Files.createTempDirectory("graft_extract_stream").toString
    val corpusPath = s"$tmp/corpus"
    // SHUFFLED ingest — extraction is row-local, so the twin claims NO
    // ordering precondition (same contract as the curriculum twin)
    val shuffled = pages.as[String].collect().toSeq.zipWithIndex
      .sortBy { case (_, i) => ((i * 2654435761L) % 997, i) }.map(_._1)
    val splits = shuffled.grouped(math.max(1, shuffled.size / 3 + 1)).toSeq
    val input = MemoryStream[String](s)
    val q = CorpusStream.incrementalExtract(input.toDF(), corpusPath).start()
    try {
      for (chunk <- splits) { input.addData(chunk); q.processAllAvailable() }
    } finally q.stop()

    val got = spark.read.parquet(corpusPath)
      .select("doc_id", "text", "lang", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
      .toSet
    assert(got == expectedCorpus,
      s"stream/batch corpus divergence: missing=${(expectedCorpus -- got).take(2)} extra=${(got -- expectedCorpus).take(2)}")
    val gotSummary = CorpusStream.extractedSummary(spark, corpusPath)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(gotSummary == expectedSummary,
      s"stream/batch summary divergence: $gotSummary vs $expectedSummary")
    Cleanup.releaseAll(spark)
    // replay idempotence: re-delivering the last batch changes nothing
    CorpusStream.extractBatch(splits.last.toDF("value"), (splits.size - 1).toLong, corpusPath)
    val again = spark.read.parquet(corpusPath)
      .select("doc_id", "text", "lang", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
      .toSet
    assert(again == expectedCorpus, "replayed micro-batch changed the stored corpus")
  }

  test("streaming line dedup rejects out-of-order ingestion loud (high-water guard)") {
    // the bit-exact-vs-batch claim rests on doc_id-ordered batches (the
    // first batch containing a digest must hold its global (doc_id, blk)
    // minimum); an out-of-order producer must fail, not silently diverge
    val docs = Tables.documents(spark, sf)
    val tmp = Files.createTempDirectory("graft_linededup_guard").toString
    val indexPath = s"$tmp/digests"
    val statsPath = s"$tmp/stats"
    CorpusStream.seedLineIndex(docs.where(lit(false)), indexPath)
    CorpusStream.lineDedupBatch(docs.where(col("doc_id") >= 100), 0L, indexPath, statsPath)
    val e = intercept[IllegalStateException] {
      CorpusStream.lineDedupBatch(docs.where(col("doc_id") < 100), 1L, indexPath, statsPath)
    }
    assert(e.getMessage.contains("doc_id-ordered"), e.getMessage)
  }

  test("streaming incremental clustering folds every batch into labels that match from-scratch") {
    val s = spark
    import s.implicits._
    val docs = Tables.documents(spark, sf)
    val existing = docs.where(pmod(col("doc_id"), lit(2)) =!= 0)
    val freshDf = docs.where(pmod(col("doc_id"), lit(2)) === 0)

    val tmp = Files.createTempDirectory("graft_corpus_clust").toString
    val indexPath = s"$tmp/index"
    val labelsPath = s"$tmp/labels"
    val pairsPath = s"$tmp/pairs"
    // seed the stored state from the existing corpus, as production would
    CorpusStream.seedIndex(existing, indexPath)
    CorpusStream.seedLabels(existing, labelsPath)
    Cleanup.releaseAll(spark) // the seeding run's caller-must-clear

    val fresh = freshDf.select("doc_id", "text", "lang", "source", "n_chars")
      .as[Doc].collect().toSeq
    val splits = fresh.grouped(math.max(1, fresh.size / 3 + 1)).toSeq
    val input = MemoryStream[Doc](s)
    val before = s.sparkContext.getPersistentRDDs.keySet
    val q = CorpusStream.incrementalClusters(input.toDF(), indexPath, labelsPath, pairsPath)
      .start()
    try {
      for (chunk <- splits) { input.addData(chunk); q.processAllAvailable() }
    } finally q.stop()
    // storage hygiene: the stream released every block it pinned
    assert((s.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "stream left checkpoint blocks resident")

    // stored labels now equal clustering the WHOLE corpus from scratch
    val got = CorpusStream.readLabels(spark, labelsPath)
      .select("doc_id", "cluster_id", "is_canonical")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = Dedup.minhashClusters(docs)
      .select("doc_id", "cluster_id", "is_canonical")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want,
      s"folded labels diverge from from-scratch: missing=${want -- got} extra=${got -- want}")
  }

  test("streaming semantic refresh: batch-split independent, restart-idempotent") {
    // the embedding-signal sink: fixed trained codebook, cell-confined
    // probes — streamed pairs over ANY batch split must equal the
    // one-shot same-cell threshold pairs touching a fresh vector, and a
    // replayed micro-batch must change nothing
    import graft.operators.Similarity
    val em = Tables.embeddings(spark, sf)
    val cents = Similarity.trainCodebook(em)
    val existing = em.where(pmod(col("vec_id"), lit(2)) =!= 0)
    val b0 = em.where(pmod(col("vec_id"), lit(4)) === 0)
    val b1 = em.where(pmod(col("vec_id"), lit(4)) === 2)

    val tmp = Files.createTempDirectory("graft_corpus_sem").toString
    val (idx, prs) = (s"$tmp/cellidx", s"$tmp/sempairs")
    CorpusStream.seedCellIndex(existing, cents, idx)
    CorpusStream.semanticBatch(b0, 0L, cents, idx, prs)
    CorpusStream.semanticBatch(b1, 1L, cents, idx, prs)

    // one-shot expectation: same-cell pairs (a<b, cos >= thr) over the
    // WHOLE corpus, restricted to pairs touching a fresh (even) vector
    val corpus = Similarity.corpusVecs(em)
    val withV = Similarity.cellAssign(corpus, cents).join(corpus, "vec_id")
    val a = withV.select(col("vec_id").as("vec_a"), col("cell"), col("v").as("av"))
    val b = withV.select(col("vec_id").as("vec_b"), col("cell"), col("v").as("bv"))
    val expected = a.join(b, Seq("cell"))
      .where(col("vec_a") < col("vec_b") &&
        Similarity.cosine(col("av"), col("bv")) >= Similarity.DupCosine)
      .where(pmod(col("vec_a"), lit(2)) === 0 || pmod(col("vec_b"), lit(2)) === 0)
      .select("vec_a", "vec_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.nonEmpty, "fixture too sparse: no semantic pairs to converge on")
    def pairs() = spark.read.parquet(prs).select(col("vec_a"), col("vec_b"), col("batch_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        .groupBy(identity).view.mapValues(_.size).toMap
    val got = pairs()
    assert(got.keySet.map(p => (p._1, p._2)) == expected,
      s"stream/batch divergence: missing=${expected -- got.keySet.map(p => (p._1, p._2))}")
    assert(got.values.forall(_ == 1), "duplicate pair rows after single delivery")
    CorpusStream.semanticBatch(b1, 1L, cents, idx, prs) // the failure-replay
    assert(pairs() == got, "replayed batch changed the semantic pair set")
    Cleanup.releaseAll(spark) // the pinned codebook and the stream's caches
  }

  test("corpus refresh survives a real kill-and-restart: checkpointed query resumes and converges") {
    // End-to-end fault tolerance, not just batch-level replay: run the
    // dedup sink as a CHECKPOINTED streaming query over a file source
    // (replayable on recovery, unlike MemoryStream), kill the query
    // between batches, deliver more data, restart from the checkpoint,
    // and assert the final state equals the one-shot batch computation —
    // the reference's crashed-worker re-execution story
    // (/root/reference/master/master.go re-assigns dead workers' shares)
    // carried to Structured Streaming's offset-log recovery.
    val docs = Tables.documents(spark, sf)
    val existing = docs.where(pmod(col("doc_id"), lit(2)) =!= 0)
    val freshDf = docs.where(pmod(col("doc_id"), lit(2)) === 0)

    val tmp = Files.createTempDirectory("graft_corpus_restart").toString
    val (staging, idx, prs, ckpt) = (s"$tmp/staging", s"$tmp/index", s"$tmp/pairs", s"$tmp/ckpt")
    CorpusStream.seedIndex(existing, idx)
    val batchCols = Seq("doc_id", "text", "lang", "source", "n_chars").map(col)
    val b1 = freshDf.where(pmod(col("doc_id"), lit(4)) === 0).select(batchCols: _*)
    val b2 = freshDf.where(pmod(col("doc_id"), lit(4)) === 2).select(batchCols: _*)

    def stream() = CorpusStream.incrementalDedup(
        spark.readStream.schema(b1.schema).parquet(staging), idx, prs)
      .option("checkpointLocation", ckpt)

    b1.write.mode("append").parquet(staging)
    val q1 = stream().start()
    try q1.processAllAvailable() finally q1.stop() // the "kill"
    b2.write.mode("append").parquet(staging)
    val q2 = stream().start() // recovery from the offset log
    try q2.processAllAvailable() finally q2.stop()

    val got = spark.read.parquet(prs).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = Dedup.incrementalPairs(existing, freshDf, s"$tmp/oneshot_idx")
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.nonEmpty && got == expected,
      s"restart diverged: missing=${expected -- got} extra=${got -- expected}")
    // the folded index covers the whole corpus exactly once per doc-band
    val idxDf = spark.read.parquet(idx)
    assert(idxDf.groupBy("doc_id", "band").count().where(col("count") > 1).count() == 0,
      "restart duplicated index rows")
    assert(idxDf.select("doc_id").distinct().count() ==
      Dedup.minhashBanded(docs).select("doc_id").distinct().count())
  }

  test("FULL corpus-refresh topology survives kill-and-restart: clusters + semantic resume from checkpoints and converge") {
    // The whole production topology at once — bands + cluster labels
    // (documents) and cell-confined semantic pairs (embeddings) as TWO
    // checkpointed file-source queries — killed twice: once at a clean
    // micro-batch boundary, once MID-STREAM (stop() issued right after
    // start, without draining — wherever that lands, Structured
    // Streaming replays the uncommitted batch into the idempotent
    // sinks). After the final restart both stores must equal their
    // one-shot batch computations: the streaming analogue of the
    // reference's reducer-recovery path (/root/reference/master/
    // recovery.go, re-sent shares folding idempotently).
    import graft.operators.Similarity
    val docs = Tables.documents(spark, sf)
    val em = Tables.embeddings(spark, sf)
    val exDocs = docs.where(pmod(col("doc_id"), lit(2)) =!= 0)
    val frDocs = docs.where(pmod(col("doc_id"), lit(2)) === 0)
    val exVecs = em.where(pmod(col("vec_id"), lit(2)) =!= 0)

    val tmp = Files.createTempDirectory("graft_full_restart").toString
    val (dStage, idx, lbl, prs, dCkpt) =
      (s"$tmp/dstage", s"$tmp/index", s"$tmp/labels", s"$tmp/pairs", s"$tmp/dckpt")
    val (eStage, cellIdx, semPrs, eCkpt) =
      (s"$tmp/estage", s"$tmp/cellidx", s"$tmp/sempairs", s"$tmp/eckpt")
    CorpusStream.seedIndex(exDocs, idx)
    CorpusStream.seedLabels(exDocs, lbl)
    Cleanup.releaseAll(spark) // seed-phase blocks only — cents trains below
    // train AFTER the seed-phase release: the codebook's checkpoint
    // blocks must stay alive for every streaming run that probes it
    val cents = Similarity.trainCodebook(em)
    CorpusStream.seedCellIndex(exVecs, cents, cellIdx)

    val docCols = Seq("doc_id", "text", "lang", "source", "n_chars").map(col)
    val d1 = frDocs.where(pmod(col("doc_id"), lit(4)) === 0).select(docCols: _*)
    val d2 = frDocs.where(pmod(col("doc_id"), lit(4)) === 2).select(docCols: _*)
    val e1 = em.where(pmod(col("vec_id"), lit(4)) === 0).select("vec_id", "embedding")
    val e2 = em.where(pmod(col("vec_id"), lit(4)) === 2).select("vec_id", "embedding")

    def docQ() = CorpusStream.incrementalClusters(
        spark.readStream.schema(d1.schema).parquet(dStage), idx, lbl, prs)
      .option("checkpointLocation", dCkpt)
    def embQ() = CorpusStream.incrementalSemantic(
        spark.readStream.schema(e1.schema).parquet(eStage), cents, cellIdx, semPrs)
      .option("checkpointLocation", eCkpt)

    // run 1: first half of both streams, clean-boundary kill
    d1.write.mode("append").parquet(dStage)
    e1.write.mode("append").parquet(eStage)
    val (q1d, q1e) = (docQ().start(), embQ().start())
    try { q1d.processAllAvailable(); q1e.processAllAvailable() }
    finally { q1d.stop(); q1e.stop() }

    // run 2: second half lands, queries are killed WITHOUT draining —
    // the batch may be unstarted, mid-flight, or committed; all three
    // crash points must recover
    d2.write.mode("append").parquet(dStage)
    e2.write.mode("append").parquet(eStage)
    val (q2d, q2e) = (docQ().start(), embQ().start())
    q2d.stop(); q2e.stop()

    // run 3: recovery from the offset logs, drain to completion
    val (q3d, q3e) = (docQ().start(), embQ().start())
    try { q3d.processAllAvailable(); q3e.processAllAvailable() }
    finally { q3d.stop(); q3e.stop() }

    // labels converge to from-scratch clustering of the whole corpus
    val gotLbl = CorpusStream.readLabels(spark, lbl)
      .select("doc_id", "cluster_id", "is_canonical")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val wantLbl = Dedup.minhashClusters(docs)
      .select("doc_id", "cluster_id", "is_canonical")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(gotLbl == wantLbl,
      s"labels diverged after kill-and-restart: missing=${wantLbl -- gotLbl} extra=${gotLbl -- wantLbl}")

    // semantic pairs converge to the one-shot same-cell threshold pairs
    // touching a fresh (even) vector — no duplicates despite the replay
    val corpus = Similarity.corpusVecs(em)
    val withV = Similarity.cellAssign(corpus, cents).join(corpus, "vec_id")
    val a = withV.select(col("vec_id").as("vec_a"), col("cell"), col("v").as("av"))
    val b = withV.select(col("vec_id").as("vec_b"), col("cell"), col("v").as("bv"))
    val wantSem = a.join(b, Seq("cell"))
      .where(col("vec_a") < col("vec_b") &&
        Similarity.cosine(col("av"), col("bv")) >= Similarity.DupCosine)
      .where(pmod(col("vec_a"), lit(2)) === 0 || pmod(col("vec_b"), lit(2)) === 0)
      .select("vec_a", "vec_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val semRows = spark.read.parquet(semPrs).select("vec_a", "vec_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(wantSem.nonEmpty && semRows.toSet == wantSem,
      s"semantic pairs diverged: missing=${wantSem -- semRows.toSet} extra=${semRows.toSet -- wantSem}")
    assert(semRows.size == semRows.distinct.size,
      "kill-and-restart duplicated semantic pair rows")
    // band index holds exactly one row per (doc, band) after the replays
    assert(spark.read.parquet(idx).groupBy("doc_id", "band").count()
      .where(col("count") > 1).count() == 0, "restart duplicated index rows")
    Cleanup.releaseAll(spark) // the pinned codebook and the stream's caches
  }

  test("corpus refresh is restart-idempotent: a replayed micro-batch changes nothing") {
    // Structured Streaming re-delivers the last uncommitted micro-batch
    // after a failure — the reference's reduce contract is that re-sent
    // shares fold idempotently (/root/reference/core/map_reduce.go:150-215).
    // Invoke each sink's batch function TWICE with the same batchId and
    // assert the stored index, pair set, and labels are byte-identical
    // to the single-delivery run.
    val docs = Tables.documents(spark, sf)
    val existing = docs.where(pmod(col("doc_id"), lit(2)) =!= 0)
    val b0 = docs.where(pmod(col("doc_id"), lit(4)) === 0)
    val b1 = docs.where(pmod(col("doc_id"), lit(4)) === 2)

    def indexRows(p: String) = spark.read.parquet(p)
      .select(col("doc_id"), col("band"), col("band_hash"), col("batch_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSeq
        .groupBy(identity).view.mapValues(_.size).toMap // multiset: catches duplicates
    def pairRows(p: String) = spark.read.parquet(p)
      .select(col("doc_a"), col("doc_b"), col("batch_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        .groupBy(identity).view.mapValues(_.size).toMap
    def labelRows(p: String) = CorpusStream.readLabels(spark, p)
      .select("doc_id", "cluster_id", "is_canonical")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        .groupBy(identity).view.mapValues(_.size).toMap

    // --- dedup sink ---
    val tmp = Files.createTempDirectory("graft_corpus_replay").toString
    val (idx, prs) = (s"$tmp/index", s"$tmp/pairs")
    CorpusStream.seedIndex(existing, idx)
    CorpusStream.dedupBatch(b0, 0L, idx, prs)
    CorpusStream.dedupBatch(b1, 1L, idx, prs)
    val (idxOnce, prsOnce) = (indexRows(idx), pairRows(prs))
    CorpusStream.dedupBatch(b1, 1L, idx, prs) // the failure-replay
    assert(indexRows(idx) == idxOnce, "replayed batch changed the band index")
    assert(pairRows(prs) == prsOnce, "replayed batch changed the pair set")
    assert(prsOnce.nonEmpty && prsOnce.values.forall(_ == 1),
      "fixture produced no pairs, or single delivery already duplicated rows")

    // --- clusters sink (adds the label-table rewrite) ---
    val (cIdx, cLbl, cPrs) = (s"$tmp/cidx", s"$tmp/clbl", s"$tmp/cprs")
    CorpusStream.seedIndex(existing, cIdx)
    CorpusStream.seedLabels(existing, cLbl)
    Cleanup.releaseAll(spark)
    CorpusStream.clustersBatch(b0, 0L, cIdx, cLbl, cPrs)
    CorpusStream.clustersBatch(b1, 1L, cIdx, cLbl, cPrs)
    val (cIdxOnce, cPrsOnce, cLblOnce) = (indexRows(cIdx), pairRows(cPrs), labelRows(cLbl))
    CorpusStream.clustersBatch(b1, 1L, cIdx, cLbl, cPrs) // the failure-replay
    assert(indexRows(cIdx) == cIdxOnce, "replayed batch changed the band index")
    assert(pairRows(cPrs) == cPrsOnce, "replayed batch changed the pair set")
    assert(labelRows(cLbl) == cLblOnce, "replayed batch changed the stored labels")
  }
}
