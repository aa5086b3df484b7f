package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The flagship END-TO-END training-data pipeline: the composition a real
  * corpus build runs, assembled purely from the library's own operators —
  *
  *   input → language-confidence filter → quality filter →
  *   Gopher repetition rules → benchmark decontamination →
  *   exact dedup → near-duplicate (MinHash cluster) dedup
  *
  * Per-row filters (lang, quality) are evaluated INLINE in the scan that
  * reads the text (both flags in one projection — no metric-table joins);
  * aggregate- and set-dependent stages (gopher stats, decontamination,
  * content-hash dedup, clustering) run over the SURVIVORS of the
  * previous stage, exactly as production pipelines order them (cheap
  * row-local filters first, doc-local aggregates next, the expensive
  * pairwise stage last, over the smallest corpus). `pipe_summary` emits
  * per-stage surviving counts — the whole composition is
  * DuckDB-mirrored, so the correctness gate checks the seven-stage
  * pipeline end to end.
  *
  * Scale: stages 1–2 are zero-shuffle row-local filters; stage 3 is two
  * combiner-friendly (doc, term)-count shuffles; stage 4 is a broadcast
  * filter (the benchmark set is tiny by definition — it stays pinned to
  * the ORIGINAL corpus slice, as an external eval file would be); stage
  * 5 is one md5 shuffle; stage 6 inherits the bounded LSH-band topology
  * of [[Dedup.minhashClusters]].
  */
object TrainingPipeline {

  /** Re-export — canonical in [[TextAnalysis.QualityMin]] (init-order:
    * this object already depends on TextAnalysis, never the reverse). */
  val QualityMin: Double = TextAnalysis.QualityMin

  /** Labelled stage outputs, in pipeline order. Intermediate stages are
    * persisted: every later stage AND the per-stage counts re-read them,
    * and the clustering stage's candidate pass would otherwise re-derive
    * the whole prefix (the frames are id-plus-doc-columns at
    * post-filter cardinality, a fraction of the input).
    *
    * CALLER-MUST-CLEAR contract: the persisted intermediates (and the
    * clustering stage's pinned component roots, as
    * [[Dedup.minhashClusters]] leaves them) stay resident so the
    * returned lazy frames can be consumed any number of times. A long-lived session composing several corpus
    * builds releases them between builds with [[release]] (or
    * [[graft.Cleanup.releaseAll]], which Verify/Bench use between
    * queries). */
  def stages(docs: DataFrame): Seq[(String, DataFrame)] = {
    // stages 1-2 are ROW-LOCAL predicates, so both flags are computed in
    // the same scan that reads the text — zero joins, zero shuffles (the
    // earlier semi-join-per-filter form derived a metric table per
    // filter and joined each back; at 100 TB that is two fact-wide
    // shuffles for predicates the scan can evaluate in place).
    // The FLAGGED frame is the one persisted (r16): it was s2 before,
    // which made the flag expressions (two tokenizing regex passes over
    // every document) evaluate TWICE per pipeline — once materializing
    // s2 and once more for s1's survivor count. Caching the flags
    // instead costs the same corpus-sized footprint (docs + 2 booleans
    // vs the ~0.9× filtered s2) and every consumer — s1's count, s2's
    // three downstream readers — is a cheap filter+project over the
    // cached columns. Internal cache, released by the session-level
    // [[graft.Cleanup.releaseAll]] contract.
    val flagged = docs
      .withColumn("g_lang_ok", TextAnalysis.langAgreeCol)
      .withColumn("g_qual_ok", TextAnalysis.qualityScoreCol >= QualityMin)
      .persist()
    // register for [[release]]; prune entries a session-level
    // releaseAll already dropped so the registry stays bounded by the
    // in-flight builds, never the session's query history
    flaggedCaches.synchronized {
      flaggedCaches.filterInPlace(
        _.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
      flaggedCaches += flagged
    }
    val docCols = docs.columns.map(col).toSeq
    val s1 = flagged.where(col("g_lang_ok")).select(docCols: _*)
    val s2 = flagged.where(col("g_lang_ok") && col("g_qual_ok"))
      .select(docCols: _*)
    // gopher repetition/quality rules: doc-local aggregates over the
    // survivors (combiner-friendly (doc, term) counts, never a corpus
    // window)
    val s3 = s2.join(
      TextAnalysis.gopherRules(s2).where(col("passes") === 1).select("doc_id"), "doc_id")
      .persist()
    // benchmark decontamination: anti-join the contaminated ids; the
    // benchmark slice stays pinned to the ORIGINAL corpus (external eval
    // sets don't shrink with upstream filtering)
    val s4 = s3.join(TextAnalysis.contaminatedIds(s3, docs), Seq("doc_id"), "left_anti")
      .persist()
    val s5 = s4.join(
      Dedup.exact(s4).where(col("doc_id") === col("keep_id")).select("doc_id"), "doc_id")
      .persist()
    // large-star/small-star clustering: per-round work is EDGE-sized
    // (candidate pairs), never the corpus-sized label table — at 100 TB
    // that is the difference between iterating on a few-million-row
    // pair set and on the corpus.
    val s6 = s5.join(
      Dedup.minhashClusters(s5).where(col("is_canonical") === 1).select("doc_id"), "doc_id")
    Seq("p0_input" -> docs, "p1_langid" -> s1, "p2_quality" -> s2,
      "p3_gopher" -> s3, "p4_decontam" -> s4, "p5_exact" -> s5,
      "p6_neardup" -> s6)
  }

  /** The cleaned corpus itself (last stage's rows). */
  def corpus(docs: DataFrame): DataFrame = stages(docs).last._2

  /** PIPELINE PACKAGING stage (`pipe_shard`, r11) — the last mile of a
    * corpus build: the seven-stage cleaned corpus goes through the
    * seeded deterministic shard shuffle ([[TextAnalysis.sharding]] —
    * the same h32 permutation and two-phase distributed rank) and rolls
    * up per shard (count, id range). Composition is the point: clean →
    * shuffle → shard is what actually lands on disk for a training run,
    * and the gate checks the WHOLE chain end to end (any drift in any
    * of the seven stages or in the permutation arithmetic moves some
    * doc across a shard boundary and fails the hash). */
  def shardSummary(docs: DataFrame): DataFrame =
    TextAnalysis.sharding(corpus(docs))
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"),
        min("doc_id").as("d_min"), max("doc_id").as("d_max"))
      .orderBy("shard_id")

  /** Release a finished [[stages]] result's persisted intermediates —
    * including the corpus-sized FLAGGED cache behind s1/s2 (r17, ADVICE
    * r16: it is not one of the returned stage frames, so a release that
    * only unpersisted those leaked one full-corpus cache per build in a
    * long-lived session composing several builds). Each stages() call
    * registers its flagged frame here; release drops every registered
    * one (builds release between compositions, so the registry never
    * grows past the in-flight builds). Unpersisting a never-persisted
    * frame is a no-op, so this is safe on every stage; the clustering
    * loop's internal caches are session-tracked and fall to
    * [[graft.Cleanup.releaseAll]]. */
  def release(st: Seq[(String, DataFrame)]): Unit = {
    st.foreach { case (_, df) => df.unpersist() }
    flaggedCaches.synchronized {
      flaggedCaches.foreach(_.unpersist())
      flaggedCaches.clear()
    }
  }

  /** The flagged frames persisted by in-flight [[stages]] compositions —
    * see [[release]]. */
  private val flaggedCaches = scala.collection.mutable.ArrayBuffer[DataFrame]()

  /** Per-stage survivor counts — the driver-checked contract. */
  def summary(docs: DataFrame): DataFrame =
    stages(docs).map { case (name, df) =>
      df.agg(count(lit(1)).as("n_docs")).select(lit(name).as("stage"), col("n_docs"))
    }.reduce(_ unionAll _).orderBy("stage")

  type Q = (SparkSession, String) => DataFrame
  val queries: Map[String, Q] = Map(
    "pipe_summary" -> ((s, d) => summary(Tables.documents(s, d))),
    "pipe_shard"   -> ((s, d) => shardSummary(Tables.documents(s, d))),
    // RAW-WEB INGEST CHAIN (`pipe_web`, r12): the staged single-line
    // HTML pages through boilerplate extraction
    // (TextAnalysis.extractedCorpus — id/lang/source recovered from the
    // page itself, prose from the density rules) and then the SAME
    // seven-stage cleaning pipeline — raw HTML → cleaned corpus, gated
    // end to end. The oracle shadows `documents` with a CTE deriving
    // the extracted corpus from the source words (the text_extract
    // arithmetic), so the whole survivor chain reads the extracted
    // text on both engines; any drift in extraction OR any stage moves
    // a survivor count and fails the gate.
    "pipe_web"     -> ((s, d) => summary(TextAnalysis.extractedCorpus(
      s.read.text(graft.sources.Sources.htmlCorpusDir(s, d))))),
    // THE FULL CRAWL HEAD (`pipe_warc`, r13): WARC-framed fetch records
    // through the three stages every production crawl pipeline runs in
    // this exact order — (w0) framed record parse, (w1) URL-canonicalized
    // keep-first dedup on WARC-Target-URI (the cheapest dedup there is:
    // one skinny groupBy on a header field, BEFORE any payload is even
    // parsed — Dedup.urlFirst), then boilerplate extraction and the SAME
    // seven-stage cleaning chain. "First" = min doc_id (the fixture's
    // fetch order). The parsed record frame is persisted: the two w-stage
    // counts and the downstream chain all read it, and re-running the
    // framed parse per consumer would multiply the scan cost
    // (Cleanup.releaseAll drops it under the session contract).
    "pipe_warc"    -> ((s, d) =>
      warcChain(s, graft.sources.Sources.warcDir(s, d))),
    // `pipe_warcgz` (r15): the IDENTICAL chain through the GZIPPED
    // staging (one gzip member per record — the real Common Crawl
    // layout), so the member-per-record decode path has a standing
    // correctness gate. Same oracle text as pipe_warc (the stagings
    // hold identical records; the inflated byte stream IS the plain
    // one), so a hash match proves the gz framing end-to-end through
    // all nine stages.
    "pipe_warcgz"  -> ((s, d) =>
      warcChain(s, graft.sources.Sources.warcGzDir(s, d))),
  )

  /** The crawl-head chain over an explicit WARC staging dir — shared by
    * `pipe_warc` (plain staging) and `pipe_warcgz` (gzipped staging). */
  private def warcChain(s: SparkSession, dir: String): DataFrame = {
    val recs = graft.sources.Sources.readWarc(s, dir)
      .withColumn("doc_id",
        regexp_extract(col("value"), "<title>Doc ([0-9]+)</title>", 1)
          .cast("long"))
      .persist()
    val kept = Dedup.urlFirst(recs).persist()
    val wStages = recs.agg(count(lit(1)).as("n_docs"))
      .select(lit("w0_fetched").as("stage"), col("n_docs"))
      .unionAll(kept.agg(count(lit(1)).as("n_docs"))
        .select(lit("w1_url").as("stage"), col("n_docs")))
    wStages
      .unionAll(summary(TextAnalysis.extractedCorpus(kept.select("value"))))
      .orderBy("stage")
  }

  /** The seven-stage survivor CTE chain (→ CTE `s6`, the cleaned
    * corpus) — shared by the `pipe_summary` gate and the `pipe_shard`
    * packaging stage, so both oracles read the IDENTICAL pipeline.
    * Every stage CTE is pinned MATERIALIZED (r13): each sN is
    * referenced at least twice (the next stage's chain AND the
    * summary's count), and DuckDB's default inlining re-executes a CTE
    * per reference — the re-execution compounds down the chain, so the
    * unpinned `pipe_summary` oracle read 127 s where the pinned one
    * reads 1.3 s at sf0.1 (identical results; the ann round-chain
    * oracles learned the same lesson in r11). */
  private def survivorCtesSql: String =
    s"""lg AS MATERIALIZED (SELECT doc_id FROM (${TextAnalysis.oracle("text_langid")}) x
       |            WHERE agree = 1),
       |ql AS MATERIALIZED (SELECT doc_id FROM (${TextAnalysis.oracle("text_quality")}) x
       |       WHERE quality >= $QualityMin),
       |s1 AS MATERIALIZED (SELECT d.* FROM documents d JOIN lg USING (doc_id)),
       |s2 AS MATERIALIZED (SELECT s1.* FROM s1 JOIN ql USING (doc_id)),
       |gp AS MATERIALIZED (SELECT doc_id FROM ${TextAnalysis.gopherPassSqlFor("s2")} g),
       |s3 AS MATERIALIZED (SELECT s2.* FROM s2 JOIN gp USING (doc_id)),
       |ct AS MATERIALIZED (SELECT doc_id FROM ${TextAnalysis.contamSqlFor("s3")} c),
       |s4 AS MATERIALIZED (SELECT s3.* FROM s3
       |       WHERE NOT EXISTS (SELECT 1 FROM ct WHERE ct.doc_id = s3.doc_id)),
       |s5 AS MATERIALIZED (SELECT * FROM s4
       |       QUALIFY doc_id = min(doc_id) OVER (PARTITION BY md5(coalesce(text, '')))),
       |s6 AS MATERIALIZED (SELECT s5.* FROM s5
       |       JOIN (${Dedup.clusterSqlFor("s5")}) c
       |         ON c.doc_id = s5.doc_id AND c.is_canonical = 1)""".stripMargin

  val oracle: Map[String, String] = Map(
    // the cleaned corpus through the seeded shard shuffle: the oracle
    // mirrors only the permutation arithmetic over s6 (text_shard's
    // contract), rolled up per shard
    "pipe_shard" ->
      s"""WITH $survivorCtesSql,
         |sh AS (
         |  SELECT doc_id,
         |    row_number() OVER (ORDER BY
         |      ('0x' || substr(md5('shard:' || doc_id::VARCHAR), 1, 8))::BIGINT,
         |      doc_id) - 1 AS position
         |  FROM s6)
         |SELECT position // ${TextAnalysis.ShardSize} AS shard_id,
         |  count(*) AS n_docs, min(doc_id) AS d_min, max(doc_id) AS d_max
         |FROM sh GROUP BY 1 ORDER BY 1""".stripMargin,
    "pipe_summary" ->
      s"""WITH $survivorCtesSql
         |SELECT stage, n_docs FROM (
         |  SELECT 'p0_input' AS stage, count(*) AS n_docs FROM documents
         |  UNION ALL SELECT 'p1_langid', count(*) FROM s1
         |  UNION ALL SELECT 'p2_quality', count(*) FROM s2
         |  UNION ALL SELECT 'p3_gopher', count(*) FROM s3
         |  UNION ALL SELECT 'p4_decontam', count(*) FROM s4
         |  UNION ALL SELECT 'p5_exact', count(*) FROM s5
         |  UNION ALL SELECT 'p6_neardup', count(*) FROM s6) t
         |ORDER BY stage""".stripMargin,
    // `documents` SHADOWED by the extracted corpus (DuckDB: a CTE takes
    // precedence over the view; the base table is reachable as
    // main.documents inside the CTE body) — every survivor-chain
    // subquery referencing `documents`, including the decontamination
    // benchmark slice, then reads the extracted text, mirroring Spark's
    // summary(extractedCorpus(...)) exactly.
    "pipe_web" ->
      s"""WITH documents AS (
         |  SELECT doc_id,
         |    array_to_string(ws[1:kw], ' ') AS text,
         |    lang, source,
         |    CAST(length(array_to_string(ws[1:kw], ' ')) AS BIGINT) AS n_chars
         |  FROM (
         |    SELECT doc_id, lang, source, ws,
         |      len(ws) - CASE WHEN len(ws) % ${graft.sources.Sources.HtmlBlockWords}
         |        BETWEEN 1 AND ${TextAnalysis.ExtractMinWords - 1}
         |        THEN len(ws) % ${graft.sources.Sources.HtmlBlockWords} ELSE 0 END AS kw
         |    FROM (SELECT doc_id, lang, source,
         |            list_filter(string_split(text, ' '), x -> x <> '') AS ws
         |          FROM main.documents) w) k),
         |$survivorCtesSql
         |SELECT stage, n_docs FROM (
         |  SELECT 'p0_input' AS stage, count(*) AS n_docs FROM documents
         |  UNION ALL SELECT 'p1_langid', count(*) FROM s1
         |  UNION ALL SELECT 'p2_quality', count(*) FROM s2
         |  UNION ALL SELECT 'p3_gopher', count(*) FROM s3
         |  UNION ALL SELECT 'p4_decontam', count(*) FROM s4
         |  UNION ALL SELECT 'p5_exact', count(*) FROM s5
         |  UNION ALL SELECT 'p6_neardup', count(*) FROM s6) t
         |ORDER BY stage""".stripMargin,
    // pipe_web's shadowed-documents chain with the URL keep-first stage
    // in front: uf = the canonical-URL keep-first survivors over the
    // docUrl mirror (the same five canonicalization rules, re-derived in
    // SQL), and the extracted-corpus CTE reads only uf docs — so both
    // engines run URL dedup on the record header BEFORE extraction, and
    // any drift in the canonicalizer, the keep-first, the WARC framing,
    // the extractor, or any of the seven stages moves a survivor count.
    "pipe_warc" -> warcChainSql,
    // IDENTICAL oracle text (r15): the gz staging holds the same
    // records by construction — the inflated byte stream IS the plain
    // one — so one chain gates both heads; only the Spark side differs
    // (pipe_warcgz reads the member-per-record gz fixture)
    "pipe_warcgz" -> warcChainSql,
  )

  /** The `pipe_warc`/`pipe_warcgz` oracle chain (shared text, so the
    * two gates cannot drift). */
  private def warcChainSql: String =
      s"""WITH uf AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, min(doc_id) OVER (PARTITION BY
         |      ${Dedup.canonicalUrlSqlFor(graft.sources.Sources.docUrlSql)}) AS k
         |    FROM main.documents) t
         |  WHERE doc_id = k),
         |documents AS (
         |  SELECT doc_id,
         |    array_to_string(ws[1:kw], ' ') AS text,
         |    lang, source,
         |    CAST(length(array_to_string(ws[1:kw], ' ')) AS BIGINT) AS n_chars
         |  FROM (
         |    SELECT doc_id, lang, source, ws,
         |      len(ws) - CASE WHEN len(ws) % ${graft.sources.Sources.HtmlBlockWords}
         |        BETWEEN 1 AND ${TextAnalysis.ExtractMinWords - 1}
         |        THEN len(ws) % ${graft.sources.Sources.HtmlBlockWords} ELSE 0 END AS kw
         |    FROM (SELECT d.doc_id, d.lang, d.source,
         |            list_filter(string_split(d.text, ' '), x -> x <> '') AS ws
         |          FROM main.documents d JOIN uf USING (doc_id)) w) k),
         |$survivorCtesSql
         |SELECT stage, n_docs FROM (
         |  SELECT 'w0_fetched' AS stage, count(*) AS n_docs FROM main.documents
         |  UNION ALL SELECT 'w1_url', count(*) FROM uf
         |  UNION ALL SELECT 'p0_input', count(*) FROM documents
         |  UNION ALL SELECT 'p1_langid', count(*) FROM s1
         |  UNION ALL SELECT 'p2_quality', count(*) FROM s2
         |  UNION ALL SELECT 'p3_gopher', count(*) FROM s3
         |  UNION ALL SELECT 'p4_decontam', count(*) FROM s4
         |  UNION ALL SELECT 'p5_exact', count(*) FROM s5
         |  UNION ALL SELECT 'p6_neardup', count(*) FROM s6) t
         |ORDER BY stage""".stripMargin
}
