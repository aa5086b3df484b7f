package graft.streaming

import graft.operators.{Dedup, Similarity}
import graft.Pin.PinOps
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming corpus maintenance — the r5 composition of the two r4
  * incremental-dedup pieces into the PRODUCTION corpus-refresh topology:
  * new documents arrive as a stream, are checked against the stored
  * corpus index, and become part of that index for every later arrival.
  *
  * Unlike the event twins (whose state lives in the state store), the
  * dedup state here IS the stored band index — a parquet table, not
  * stream state: it must outlive the query, be shared with batch jobs,
  * and scale with the corpus rather than the watermark horizon. The
  * stream therefore runs as a `foreachBatch` sink over three
  * batch-composable steps per micro-batch, reusing the exact operators
  * the batch path gates:
  *
  *  1. the batch's MinHash bands (map-only, [[Dedup.minhashBanded]]);
  *  2. candidate pairs = broadcast probe of the STORED index
  *     (new↔existing) ∪ within-batch self-join (new↔new), distinct —
  *     the same shape as [[Dedup.incrementalPairs]];
  *  3. fold the batch's bands into the index, so later micro-batches
  *     see this batch's documents as existing.
  *
  * Step 3 makes the emitted pair-set independent of how the fresh corpus
  * is split into micro-batches: a pair inside one batch surfaces from
  * its self-join, a pair across batches surfaces when the later doc
  * probes the index — so the union over ANY replay equals the one-shot
  * batch `incrementalPairs(existing, fresh)` (spec: replay-converged,
  * CorpusStreamSpec).
  *
  * '''Restart idempotence (r6).''' Structured Streaming re-delivers the
  * last uncommitted micro-batch after a failure, so a blind `Append`
  * sink double-writes on restart. Both sinks here are instead
  * idempotent w.r.t. re-sent batches — the reference's defining reduce
  * contract ("cumulative and idempotent w.r.t. re-sent shares",
  * /root/reference/core/map_reduce.go:150-215): every per-batch write
  * lands under a `batch_id=<id>` partition via dynamic partition
  * overwrite, so a replayed batch REPLACES its own partition with
  * byte-identical content instead of appending a duplicate. The replay
  * recomputation is itself stable at every crash point:
  *
  *  - crash before the index fold: the replay sees the same index the
  *    first delivery saw → identical pairs, overwritten in place;
  *  - crash after the index fold: the replay's probe also sees the
  *    batch's OWN bands in the index, but every (new↔own-batch) pair it
  *    yields canonicalizes onto a self-join pair and the `distinct`
  *    collapses it — the pair set is again identical;
  *  - the clusters sink's label rewrite lands in a per-batch VERSION
  *    directory ([[readLabels]]: readers take the highest `_SUCCESS`-
  *    marked version, so a crash mid-rewrite can never lose the table —
  *    r7; a flat whole-table `Overwrite` had a delete-to-commit window
  *    where the labels were gone), and its fixpoint fold is idempotent
  *    under re-added edges (re-folding the same pairs into
  *    already-folded components is a no-op).
  *
  * Spec: CorpusStreamSpec re-invokes each batch function with a
  * repeated batchId and asserts the index, pair set, and labels are
  * identical to the single-delivery run.
  *
  * Scale: per-batch cost ∝ batch size (signature pass + banded index
  * probe); the index is only ever appended to (one new partition per
  * batch) and the probe side broadcasts, so the stored corpus is never
  * reshuffled — the property that makes a 100 TB corpus refresh
  * affordable.
  */
object CorpusStream {

  /** Seed the stored cluster labels from the existing corpus, as version
    * `v_-1` of the crash-consistent label layout (see [[readLabels]]). */
  def seedLabels(existing: DataFrame, labelsPath: String): Unit =
    Dedup.minhashClusters(existing).write
      .mode(SaveMode.Overwrite).parquet(s"$labelsPath/v_-1")

  /** Latest COMMITTED label version. The labels table is rewritten whole
    * every micro-batch (the one corpus-sized output of the refresh
    * loop); a flat `Overwrite` of one directory would have a crash
    * window between its delete and its commit where the table is simply
    * GONE — state the restart cannot recover. Instead every rewrite
    * lands in its own `v_<batchId>` subdirectory and readers take the
    * highest version whose `_SUCCESS` marker exists: a crash mid-write
    * leaves a partial, marker-less directory that every reader ignores,
    * and the replayed batch overwrites it in place. */
  def readLabels(spark: SparkSession, labelsPath: String): DataFrame =
    spark.read.parquet(s"$labelsPath/${latestLabelVersion(labelsPath)._2}")

  private def latestLabelVersion(labelsPath: String): (Long, String) = {
    val versions = Option(new java.io.File(labelsPath).listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith("v_") &&
        new java.io.File(d, "_SUCCESS").exists())
      .map(d => (d.getName.stripPrefix("v_").toLong, d.getName))
    require(versions.nonEmpty, s"no committed label version under $labelsPath")
    versions.maxBy(_._1)
  }

  /** Keep the just-committed version plus its predecessor (the replay
    * safety margin); delete older ones. Runs AFTER the new version's
    * commit, so a crash here at worst leaves an extra old version. */
  private def pruneLabels(labelsPath: String, committed: Long): Unit = {
    val keep = latestLabelVersion(labelsPath) // committed, by construction
    Option(new java.io.File(labelsPath).listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith("v_") &&
        d.getName != keep._2 && d.getName.stripPrefix("v_").toLong < committed)
      .sortBy(-_.getName.stripPrefix("v_").toLong)
      .drop(1) // retain the newest survivor as the predecessor margin
      .foreach(d => org.apache.commons.io.FileUtils.deleteDirectory(d))
  }

  /** Seed the stored band index from the existing corpus, under the same
    * `batch_id` partition layout the stream's micro-batches use (the
    * seed is `batch_id=-1`) so the index path carries one consistent
    * partitioning from its first write. Run this before starting either
    * sink; the stream folds every micro-batch in as `batch_id=<id>`. */
  def seedIndex(existing: DataFrame, indexPath: String): Unit =
    Dedup.minhashBanded(existing).withColumn("batch_id", lit(-1L))
      .write.partitionBy("batch_id").mode(SaveMode.Overwrite).parquet(indexPath)

  /** Idempotent per-batch append: the rows land in (and on replay,
    * replace) the `batch_id=<batchId>` partition only — dynamic
    * partition overwrite leaves every other batch's partition intact. */
  private def foldBatch(df: DataFrame, batchId: Long, path: String): Unit =
    df.withColumn("batch_id", lit(batchId))
      .write.partitionBy("batch_id")
      .option("partitionOverwriteMode", "dynamic")
      .mode(SaveMode.Overwrite).parquet(path)

  /** Release every block pinned since `before` — localCheckpoint blocks
    * register on the RDD, not the CacheManager, so a plain
    * `Dataset.unpersist()` is a no-op for them; the pinned-set diff is
    * the release that actually frees storage across micro-batches. */
  private def releaseSince(spark: SparkSession, before: scala.collection.Set[Int]): Unit = {
    val now = spark.sparkContext.getPersistentRDDs
    (now.keySet -- before).foreach(id => now.get(id).foreach(_.unpersist(false)))
  }

  /** Serializes micro-batch bodies across ALL this object's sinks on one
    * JVM. The pinned-set diff above attributes every block pinned during
    * a batch to THAT batch — run two sinks' batches concurrently on one
    * SparkContext (e.g. the document and embedding refresh queries of
    * the full topology) and each release would free the OTHER query's
    * live checkpoint blocks (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND,
    * reproduced by CorpusStreamSpec's full-topology kill-and-restart
    * before this lock existed). Separate Spark applications — the
    * cluster deployment — have separate block managers and never
    * contend; in-JVM co-residence trades batch overlap for a release
    * discipline that can never free another query's state. */
  private val batchLock = new Object

  /** One micro-batch's candidate pairs: broadcast probe of the stored
    * index (new↔existing) ∪ within-batch self-join (new↔new). */
  private def probePairs(bands: DataFrame, index: DataFrame): DataFrame = {
    val cross = broadcast(
      bands.select(col("doc_id").as("new_id"), col("band"), col("band_hash")))
      .join(index.select(col("doc_id").as("old_id"), col("band"), col("band_hash")),
        Seq("band", "band_hash"))
      .where(col("new_id") =!= col("old_id"))
      .select(least(col("new_id"), col("old_id")).as("doc_a"),
        greatest(col("new_id"), col("old_id")).as("doc_b"))
    val l = bands.select(col("doc_id").as("doc_a"), col("band"), col("band_hash"))
    val r = bands.select(col("doc_id").as("doc_b"), col("band"), col("band_hash"))
    val self = l.join(r, Seq("band", "band_hash"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
    cross.unionAll(self).distinct()
  }

  /** The dedup sink's micro-batch body, exposed for the replay spec:
    * running it twice with the same `batchId` leaves the pairs table and
    * band index exactly as one delivery would. */
  private[graft] def dedupBatch(batch: DataFrame, batchId: Long,
                                indexPath: String, pairsPath: String): Unit = batchLock.synchronized {
    val spark = batch.sparkSession
    val pinned = spark.sparkContext.getPersistentRDDs.keySet
    // computed once, used three times (probe, self-join, index fold)
    val bands = Dedup.minhashBanded(batch).pinned
    try {
      foldBatch(probePairs(bands, spark.read.parquet(indexPath)), batchId, pairsPath)
      // fold the batch into the corpus AFTER probing (probe-then-fold
      // keeps within-batch pairs sourced from the self-join only)
      foldBatch(bands, batchId, indexPath)
    } finally releaseSince(spark, pinned)
  }

  def incrementalDedup(freshDocs: DataFrame, indexPath: String,
                       pairsPath: String): DataStreamWriter[Row] =
    freshDocs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      dedupBatch(batch, batchId, indexPath, pairsPath)
    }

  /** The clusters sink's micro-batch body, exposed for the replay spec
    * (same idempotence contract as [[dedupBatch]], plus the label
    * rewrite whose fold is a no-op on re-sent edges). */
  private[graft] def clustersBatch(batch: DataFrame, batchId: Long, indexPath: String,
                                   labelsPath: String, pairsPath: String): Unit = batchLock.synchronized {
    val spark = batch.sparkSession
    val pinned = spark.sparkContext.getPersistentRDDs.keySet
    val bands = Dedup.minhashBanded(batch).pinned
    try {
      val pairs = probePairs(bands, spark.read.parquet(indexPath))
        .pinned
      foldBatch(pairs, batchId, pairsPath)
      foldBatch(bands, batchId, indexPath)
      // on replay this reads the replay's OWN committed fold — the star
      // edges then already encode the final components, and re-adding
      // the (identical) pairs is a no-op for connectedComponents
      val labels = readLabels(spark, labelsPath)
      val stars = labels.where(col("doc_id") =!= col("cluster_id"))
        .select(col("doc_id").as("doc_a"), col("cluster_id").as("doc_b"))
      val ids = labels.select("doc_id").unionAll(batch.select("doc_id")).distinct()
      // checkpoint BEFORE the overwrite: on replay the version read and
      // the version written are the SAME directory (v_<batchId>)
      Dedup.connectedComponents(
          ids, stars.unionAll(pairs.select("doc_a", "doc_b")).distinct())
        .pinned
        .write.mode(SaveMode.Overwrite).parquet(s"$labelsPath/v_$batchId")
      pruneLabels(labelsPath, batchId)
    } finally releaseSince(spark, pinned)
  }

  /** Seed the stored CELL index (the embedding signal's analogue of
    * [[seedIndex]]): (vec_id, cell, v) per existing vector under the
    * same `batch_id` partition layout, cells from the persisted trained
    * codebook. */
  def seedCellIndex(existing: DataFrame, cents: DataFrame, indexPath: String): Unit = {
    val corpus = Similarity.corpusVecs(existing)
    Similarity.cellAssign(corpus, cents).join(corpus, "vec_id")
      .withColumn("batch_id", lit(-1L))
      .write.partitionBy("batch_id").mode(SaveMode.Overwrite).parquet(indexPath)
  }

  /** One embedding micro-batch's near-duplicate pairs: same-cell probe
    * of the stored index (new↔existing) ∪ within-batch same-cell
    * self-join (new↔new), both cosine-thresholded, distinct. */
  private def probeSemantic(withV: DataFrame, index: DataFrame): DataFrame = {
    val thr = Similarity.DupCosine
    val cos = (a: String, b: String) => Similarity.cosine(col(a), col(b))
    val cross = broadcast(
      withV.select(col("vec_id").as("new_id"), col("cell"), col("v").as("nv")))
      .join(index.select(col("vec_id").as("old_id"), col("cell"), col("v").as("ov")),
        Seq("cell"))
      .where(col("new_id") =!= col("old_id") && cos("nv", "ov") >= thr)
      .select(least(col("new_id"), col("old_id")).as("vec_a"),
        greatest(col("new_id"), col("old_id")).as("vec_b"))
    val l = withV.select(col("vec_id").as("vec_a"), col("cell"), col("v").as("av"))
    val r = withV.select(col("vec_id").as("vec_b"), col("cell"), col("v").as("bv"))
    val self = l.join(r, Seq("cell"))
      .where(col("vec_a") < col("vec_b") && cos("av", "bv") >= thr)
      .select("vec_a", "vec_b")
    cross.unionAll(self).distinct()
  }

  /** The semantic sink's micro-batch body, exposed for the replay spec
    * (same idempotence contract as [[dedupBatch]]). */
  private[graft] def semanticBatch(batch: DataFrame, batchId: Long, cents: DataFrame,
                                   indexPath: String, pairsPath: String): Unit = batchLock.synchronized {
    val spark = batch.sparkSession
    val pinned = spark.sparkContext.getPersistentRDDs.keySet
    val corpus = Similarity.corpusVecs(batch)
    val withV = Similarity.cellAssign(corpus, cents).join(corpus, "vec_id")
      .pinned
    try {
      foldBatch(probeSemantic(withV, spark.read.parquet(indexPath)), batchId, pairsPath)
      foldBatch(withV, batchId, indexPath)
    } finally releaseSince(spark, pinned)
  }

  /** Streaming SEMANTIC corpus refresh — the embedding-signal face of
    * [[incrementalDedup]], completing the two-signal batch surface
    * (`dedup_semantic` + MinHash) as streams: new vectors are assigned
    * to their trained-codebook cell (broadcast K-pass, the codebook is
    * FIXED model input — cells never drift mid-stream), probed against
    * the stored cell index for near-duplicates (cosine-thresholded,
    * cell-confined — never all-pairs), and folded into that index for
    * every later arrival. Same batch-split independence (a cross-batch
    * pair surfaces when the later vector probes) and the same
    * batch_id-partitioned restart idempotence as the MinHash sink. */
  def incrementalSemantic(freshVecs: DataFrame, cents: DataFrame, indexPath: String,
                          pairsPath: String): DataStreamWriter[Row] =
    freshVecs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      semanticBatch(batch, batchId, cents, indexPath, pairsPath)
    }

  /** The FULL production corpus-refresh loop as a stream — the
    * streaming face of [[Dedup.incrementalClusters]]: per micro-batch,
    * probe + fold the band index (as [[incrementalDedup]]), then fold
    * the batch's pairs into the STORED cluster labels — old components
    * compressed to star edges (connectivity-exact), large-star/small-
    * star re-run over stars ∪ new pairs, labels table rewritten. After
    * any batch split of the fresh corpus, the stored labels equal the
    * from-scratch clustering of everything seen (CorpusStreamSpec).
    *
    * Per-batch cost ∝ |labels| + |batch pairs| — the old corpus is
    * never re-shingled; the label rewrite is the one corpus-sized
    * output, which production would keep as a versioned table. Storage
    * hygiene: every block this batch pinned (band/label checkpoints,
    * the CC loop's converged edges) is released before the batch ends —
    * a long-running refresh stream accumulates nothing. */
  def incrementalClusters(freshDocs: DataFrame, indexPath: String,
                          labelsPath: String, pairsPath: String): DataStreamWriter[Row] =
    freshDocs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      clustersBatch(batch, batchId, indexPath, labelsPath, pairsPath)
    }

  /** Seed the stored line-digest index from the existing corpus (the
    * `batch_id=-1` convention): one row per DISTINCT line digest —
    * membership is all the keep-first rule needs from history. */
  def seedLineIndex(existing: DataFrame, indexPath: String): Unit =
    graft.operators.TextAnalysis.lineBlocks(existing)
      .select("dig").distinct().withColumn("batch_id", lit(-1L))
      .write.partitionBy("batch_id").mode(SaveMode.Overwrite).parquet(indexPath)

  /** The line-dedup sink's micro-batch body (exposed for the replay
    * spec): a line occurrence is KEPT iff its digest is absent from
    * every EARLIER batch's index partition AND it is the batch's
    * (doc_id, blk)-minimal occurrence of that digest. With doc_id-
    * ordered ingestion the first batch containing a digest contains its
    * global minimum, so full replay is BIT-EXACT against the batch
    * [[graft.operators.TextAnalysis.lineDedup]] (spec-verified over
    * every 3-way split). Replay idempotence: `seen` reads only
    * partitions with batch_id < this one — re-delivering a batch sees
    * the exact pre-batch membership even though its own fold already
    * landed — and both folds overwrite their own partition. */
  private[graft] def lineDedupBatch(batch: DataFrame, batchId: Long,
                                    indexPath: String, statsPath: String): Unit = batchLock.synchronized {
    import graft.operators.{Dedup, TextAnalysis}
    val spark = batch.sparkSession
    val pinned = spark.sparkContext.getPersistentRDDs.keySet
    val b = TextAnalysis.lineBlocks(batch).pinned
    try {
      // PRECONDITION GUARD: bit-exactness vs the terminal batch
      // lineDedup rests on doc_id-ordered ingestion — the first batch
      // containing a digest must contain its global (doc_id, blk)
      // minimum. An out-of-order producer must fail LOUD here, not
      // silently diverge from the keep-first result: the batch's min
      // doc_id must exceed every earlier batch's max, read as a
      // high-water mark (batch_id < batchId only, the `seen`
      // convention — a re-delivered batch sees the exact pre-batch
      // high-water, so replay stays idempotent). The mark is read from
      // the LATEST earlier batch's partition alone, never a scan of
      // the whole stats history: every committed batch already passed
      // this guard, so the store's doc_ids are monotone across
      // batch_ids and the newest earlier partition holds the global
      // max — per-batch guard cost stays O(latest batch), constant as
      // ingest history grows (directory listing is names-only).
      val statsP = new org.apache.hadoop.fs.Path(statsPath)
      val statsFs = statsP.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val latestEarlier: Option[Long] =
        if (!statsFs.exists(statsP)) None // first batch: no history
        else statsFs.listStatus(statsP).iterator
          .map(_.getPath.getName)
          .filter(_.startsWith("batch_id="))
          .map(_.stripPrefix("batch_id=").toLong)
          .filter(_ < batchId)
          .reduceOption(_ max _)
      val hwRow = latestEarlier.map { bid =>
        spark.read
          .schema(org.apache.spark.sql.types.StructType.fromDDL(
            "doc_id BIGINT, n_lines BIGINT, n_kept BIGINT, " +
              "words_kept BIGINT, sum_h BIGINT"))
          .parquet(s"$statsPath/batch_id=$bid")
          .agg(max(col("doc_id")).as("hw")).head()
      }.orNull
      val batchMin = b.agg(min(col("doc_id"))).head()
      if (hwRow != null && !hwRow.isNullAt(0) && !batchMin.isNullAt(0) &&
          batchMin.getLong(0) <= hwRow.getLong(0))
        throw new IllegalStateException(
          s"incrementalLineDedup batch $batchId violates doc_id-ordered " +
            s"ingestion: batch min doc_id ${batchMin.getLong(0)} <= stored " +
            s"high-water ${hwRow.getLong(0)} — keep-first results would " +
            "silently diverge from the batch lineDedup; ingest in doc_id " +
            "order (or re-seed the index from the full corpus)")
      // explicit schema: a fresh pipeline's seed may be EMPTY (zero
      // stored digests writes no parquet footer to infer from)
      val seen = spark.read
        .schema(org.apache.spark.sql.types.StructType.fromDDL(
          "dig STRING, batch_id BIGINT"))
        .parquet(indexPath)
        .where(col("batch_id") < batchId).select("dig").distinct()
      val firsts = b.groupBy("dig")
        .agg(min(struct(col("doc_id"), col("blk"))).as("m"))
        .select(col("dig"), col("m.doc_id").as("kd"), col("m.blk").as("kb"))
      val keep = col("seen").isNull &&
        col("doc_id") === col("kd") && col("blk") === col("kb")
      val stats = b.join(firsts, "dig")
        .join(seen.withColumn("seen", lit(1L)), Seq("dig"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_lines"),
          sum(when(keep, 1L).otherwise(0L)).as("n_kept"),
          sum(when(keep, col("wl")).otherwise(0L)).as("words_kept"),
          sum(when(keep, Dedup.h32(lit("ld"), col("dig"))).otherwise(0L)).as("sum_h"))
      foldBatch(stats, batchId, statsPath)
      foldBatch(b.select("dig").distinct(), batchId, indexPath)
    } finally releaseSince(spark, pinned)
  }

  /** The streaming curriculum's per-batch fold (exposed for the replay
    * spec): the batch's row-local (doc_id, phase, k) key triple lands in
    * its own batch_id partition — overwrite-in-place, so re-delivery is
    * idempotent. Cost per batch ∝ batch rows (one map-only pass, the
    * quality score and hash key evaluate inline). */
  private[graft] def curriculumBatch(batch: DataFrame, batchId: Long,
                                     indexPath: String): Unit = batchLock.synchronized {
    val spark = batch.sparkSession
    val pinned = spark.sparkContext.getPersistentRDDs.keySet
    try foldBatch(graft.operators.TextAnalysis.curriculumKeys(batch), batchId, indexPath)
    finally releaseSince(spark, pinned)
  }

  /** STREAMING CURRICULUM twin (`text_curriculum`'s ingest-time form) —
    * the corpus streams in, each micro-batch folds only its own
    * (doc_id, phase, k) key triple into the stored index, and the
    * phase-major training order derives from the index ON DEMAND via
    * [[curriculumFromIndex]] (a dataloader reads positions at epoch
    * start, not mid-ingest — the order is a function of the FULL key
    * set, so materializing it per batch would be wasted work that the
    * next batch invalidates). Unlike [[incrementalLineDedup]], NO
    * ingestion-order precondition exists: positions derive from the
    * stored keys alone, so any batch split, any arrival order, and any
    * replay converge bit-exactly to the batch `curriculum` (the
    * spec ingests a SHUFFLED corpus to pin exactly this). */
  def incrementalCurriculum(freshDocs: DataFrame,
                            indexPath: String): DataStreamWriter[Row] =
    freshDocs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      curriculumBatch(batch, batchId, indexPath)
    }

  /** Phase-major ordering from the streamed key index — bit-exact to
    * `TextAnalysis.curriculum` over the same documents (same rank
    * machinery, [[graft.operators.TextAnalysis.curriculumOf]]). */
  def curriculumFromIndex(spark: SparkSession, indexPath: String): DataFrame =
    graft.operators.TextAnalysis.curriculumOf(
      spark.read
        .schema(org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id BIGINT, phase BIGINT, k BIGINT, batch_id BIGINT"))
        .parquet(indexPath)
        .select("doc_id", "phase", "k"))

  /** The extraction head's per-batch fold (exposed for the replay
    * spec): the batch's raw HTML pages run through
    * [[graft.operators.TextAnalysis.extractedCorpus]] — boilerplate
    * extraction is entirely ROW-LOCAL (regex segmentation + in-row
    * density arithmetic, zero cross-batch state) — and the extracted
    * rows land in their own batch_id partition, overwrite-in-place, so
    * re-delivery is idempotent and ANY batch split or arrival order
    * stores the same row set. Cost per batch ∝ batch pages (one
    * map-only pass). */
  private[graft] def extractBatch(batch: DataFrame, batchId: Long,
                                  corpusPath: String): Unit = batchLock.synchronized {
    val spark = batch.sparkSession
    val pinned = spark.sparkContext.getPersistentRDDs.keySet
    try foldBatch(graft.operators.TextAnalysis.extractedCorpus(batch), batchId, corpusPath)
    finally releaseSince(spark, pinned)
  }

  /** STREAMING INGEST TWIN of `pipe_web`'s extraction head — raw web
    * pages arrive as a stream (one single-line HTML page per row, the
    * [[graft.sources.Sources.htmlCorpusDir]] shape; a WARC reader's
    * record payloads feed the same column) and each micro-batch folds
    * its own extracted prose into the stored corpus. Extraction is
    * row-local, so — like [[incrementalCurriculum]], and unlike
    * [[incrementalLineDedup]] — NO ingestion-order precondition exists:
    * any split, any order, any replay converges to the batch
    * `extractedCorpus` bit-exactly. The seven-stage CLEANING chain is
    * corpus-dependent (its dedup/cluster stages see all survivors at
    * once), so it is NOT folded per batch; it runs on demand over the
    * stored corpus via [[extractedSummary]] — a dataloader cleans at
    * corpus-build boundaries, not mid-ingest — and the result is
    * bit-exact to `pipe_web`'s batch chain over the same pages
    * (CorpusStreamSpec). */
  def incrementalExtract(freshPages: DataFrame,
                         corpusPath: String): DataStreamWriter[Row] =
    freshPages.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      extractBatch(batch, batchId, corpusPath)
    }

  /** `pipe_web`'s per-stage survivor counts over the streamed store —
    * the on-demand cleaning face of [[incrementalExtract]]. Explicit
    * schema: a seeded-empty store has no footer to infer from. */
  def extractedSummary(spark: SparkSession, corpusPath: String): DataFrame =
    graft.operators.TrainingPipeline.summary(
      spark.read
        .schema(org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id BIGINT, text STRING, lang STRING, source STRING, " +
            "n_chars BIGINT, batch_id BIGINT"))
        .parquet(corpusPath)
        .select("doc_id", "text", "lang", "source", "n_chars"))

  /** Streaming LINE-LEVEL KEEP-FIRST DEDUP — the C4 cleaning pass
    * (`text_linededup`) running as the corpus INGESTS instead of as a
    * terminal batch job: each micro-batch's lines probe the stored
    * digest membership (skinny — one fixed-width digest per distinct
    * line ever seen), kept/removed stats land per doc, and the batch's
    * digests fold in for every later arrival. Per-batch cost ∝ batch
    * lines + one membership anti-probe; the stored index is the
    * digest vocabulary, never the corpus. */
  def incrementalLineDedup(freshDocs: DataFrame, indexPath: String,
                           statsPath: String): DataStreamWriter[Row] =
    freshDocs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      lineDedupBatch(batch, batchId, indexPath, statsPath)
    }
}
