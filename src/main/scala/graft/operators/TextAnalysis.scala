package graft.operators

import graft.{Pin, Tables}
import graft.Pin.PinOps
import graft.functions.BpeIds
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.GraftSqlBridge.{column => native, expression}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Text-analysis operators for a training-data pipeline (SURVEY §2.5):
  * language ID, quality scoring, token counting, document fingerprinting.
  *
  * All are per-row `functions` chains — fully codegen'd, no UDFs, no
  * shuffles except the final deterministic sort. At 100 TB these run
  * map-only at scan speed, so throughput is bounded by parquet decode.
  *
  * Cross-engine determinism: only integer arithmetic, md5, and single
  * IEEE divisions of exact integers — every value hash-matches DuckDB.
  */
object TextAnalysis {

  /** Clean word array (reference tokenizer semantics, WordCount.TokenRe). */
  private def wordsCol: Column =
    filter(split(col("text"), WordCount.TokenRe), w => w =!= "")

  /** Language marker sets — tiny per-language stopword lists. The heuristic
    * is the operator under test (deterministic argmax with fixed
    * precedence); its agreement with the `lang` label is reported, not
    * assumed. */
  val Markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "table"),
    "de" -> Seq("der", "die", "das", "und", "hash"),
    "es" -> Seq("el", "la", "de", "los", "query"),
    "fr" -> Seq("le", "la", "les", "des", "scan"),
    "zh" -> Seq("de", "shi", "bu", "le", "join"),
  )

  private def markerCount(ws: Column, markers: Seq[String]): Column =
    size(filter(ws, w => w.isInCollection(markers)))

  /** The predicted language as ONE column expression over `text` —
    * argmax marker-hit count with fixed en>de>es>fr>zh tie precedence
    * (fold-right: the first branch equalling the max wins, matching the
    * oracle's CASE chain), 'und' when nothing matches. Repeated
    * sub-expressions (the split, each marker count) are deduplicated by
    * whole-stage codegen's common-subexpression elimination. */
  def langPredCol: Column = {
    val ws = wordsCol
    val counts = Markers.map { case (_, m) => markerCount(ws, m) }
    val best = counts.reduce(greatest(_, _))
    Markers.zip(counts).foldRight(lit("und")) { case (((l, _), c), elseC) =>
      when(c === best && best > 0, lit(l)).otherwise(elseC)
    }
  }

  /** Row-local language-agreement flag: predicted language equals the
    * `lang` label. Lets pipelines filter in the SAME scan that reads the
    * text instead of semi-joining against [[langId]]'s metric table. */
  def langAgreeCol: Column = col("lang") === langPredCol

  /** Heuristic language ID: argmax marker-hit count, fixed precedence
    * en>de>es>fr>zh on ties, 'und' when nothing matches. */
  def langId(docs: DataFrame): DataFrame =
    // CPU-floored (r16): five marker-count filters over the token array
    // per row (measured 1.35 → 0.73 s) — see [[graft.Tables.cpuFloored]]
    graft.Tables.cpuFloored(docs)
      .select(col("doc_id"), langPredCol.as("pred_lang"), col("lang"),
        langAgreeCol.cast("long").as("agree"))
      .orderBy("doc_id")

  private val QualityStop = Seq("the", "a", "of", "and", "to", "in")

  /** The linear quality score as ONE column expression over `text` —
    * identical arithmetic to [[quality]]'s staged form (spec-asserted),
    * for pipelines that filter inline in the reading scan. */
  def qualityScoreCol: Column = {
    val ws = wordsCol
    val nTok = nullif(size(ws).cast("long"), lit(0L))
    val meanWlen =
      aggregate(transform(ws, w => length(w).cast("long")), lit(0L), _ + _)
        .cast("double") / nTok
    val stopRatio =
      size(filter(ws, w => w.isInCollection(QualityStop))).cast("double") / nTok
    val distinctRatio = size(array_distinct(ws)).cast("double") / nTok
    distinctRatio * 0.5 + (lit(1.0) - stopRatio) * 0.3 +
      least(meanWlen / 10.0, lit(1.0)) * 0.2
  }

  /** Quality signals: token count, mean word length, stopword ratio,
    * distinct ratio — all exact-integer-derived doubles. */
  def quality(docs: DataFrame): DataFrame = {
    val stop = QualityStop
    val ws = wordsCol
    docs.select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        size(ws).cast("long").as("n_tokens"),
        size(array_distinct(ws)).cast("long").as("n_distinct"),
        aggregate(transform(ws, w => length(w).cast("long")), lit(0L), _ + _).as("sum_wlen"),
        size(filter(ws, w => w.isInCollection(stop))).cast("long").as("n_stop"))
      // nullif guard: a letterless doc has n_tokens=0; bare division would
      // be NULL in Spark but inf/NaN in DuckDB — nullif makes both NULL
      .withColumn("mean_wlen", col("sum_wlen").cast("double") / nullif(col("n_tokens"), lit(0L)))
      .withColumn("stop_ratio", col("n_stop").cast("double") / nullif(col("n_tokens"), lit(0L)))
      .withColumn("distinct_ratio", col("n_distinct").cast("double") / nullif(col("n_tokens"), lit(0L)))
      // linear quality score; each term is a deterministic double
      .withColumn("quality",
        col("distinct_ratio") * 0.5 + (lit(1.0) - col("stop_ratio")) * 0.3 +
          least(col("mean_wlen") / 10.0, lit(1.0)) * 0.2)
      .select("doc_id", "n_chars", "n_tokens", "n_distinct", "mean_wlen",
        "stop_ratio", "distinct_ratio", "quality")
      .orderBy("doc_id")
  }

  /** Token counting three ways: whitespace fields, regex word/number/other
    * tokens, and a BPE-ish upper bound (4-char subword pieces). */
  def tokenCount(docs: DataFrame): DataFrame = {
    val ws = wordsCol
    docs.select(
        col("doc_id"),
        size(filter(split(col("text"), " "), w => w =!= "")).cast("long").as("ws_tokens"),
        regexp_count(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]")).cast("long").as("re_tokens"),
        // ceil(len/4) per word, summed — subword-piece upper bound
        aggregate(transform(ws, w => ((length(w) + 3) / 4).cast("long")), lit(0L), _ + _)
          .as("bpe_tokens"))
      .orderBy("doc_id")
  }

  /** Karp–Rabin rolling-hash parameters: h = fold((acc·31 + H(w)) mod P)
    * over per-word md5-prefix hashes — position-sensitive (unlike
    * fp_shape) yet incremental, the classic streaming fingerprint.
    * acc < P < 2^32 keeps acc·31 + x < 2^37: exact in BIGINT/Long. */
  val RollBase = 31L
  val RollP = 4294967291L

  /** Document fingerprints: content hash, order-invariant shape hash
    * (sorted tokens), head/tail positional hashes, and the rolling hash. */
  def fingerprint(docs: DataFrame): DataFrame = {
    val ws = wordsCol
    val rolling = aggregate(
      transform(ws, w => conv(substring(md5(concat(lit("rl:"), w)), 1, 8), 16, 10).cast("long")),
      lit(0L), (acc, x) => (acc * RollBase + x) % RollP)
    // CPU-floored (r16): per-word md5 + rolling-hash fold per row —
    // see [[graft.Tables.cpuFloored]]
    graft.Tables.cpuFloored(docs).select(
        col("doc_id"),
        md5(col("text")).as("fp_content"),
        md5(array_join(array_sort(ws), " ")).as("fp_shape"),
        md5(array_join(slice(ws, 1, 8), " ")).as("fp_head"),
        md5(array_join(slice(ws, -8, 8), " ")).as("fp_tail"),
        rolling.as("fp_rolling"))
      .orderBy("doc_id")
  }

  val CdcW = 4        // CDC rolling window width (words)
  val CdcMask = 16L   // boundary when h % CdcMask == 0 → ~16-word chunks

  /** CONTENT-DEFINED CHUNKING (`text_cdc`) — the LBFS/rsync/backup-dedup
    * technique, applied to corpus text: chunk boundaries fall where a
    * [[CdcW]]-word Karp–Rabin rolling hash hits `h % CdcMask == 0`, so
    * boundaries are determined by LOCAL CONTENT, not offsets — an
    * insertion shifts every fixed-size chunk after it ([[graft.sources
    * .Sources.chunked]]'s failure mode for dedup) but leaves all CDC
    * chunks outside the edit window intact. Cross-corpus duplicate
    * chunks (same hash in >1 distinct doc) are then the shared
    * boilerplate a storage layer would store once and a training
    * pipeline would strip. Emits per doc: chunk count, duplicated-chunk
    * count, largest chunk.
    *
    * Scale shape: the sessionize pattern — posexplode, ONE doc-keyed
    * window partitioning (lag×3 + exclusive running sum ride the same
    * sort), a (doc, chunk) aggregation, and a chunk-hash aggregation
    * whose key space is content-bounded; only (doc_id, hash) pairs
    * reach the dup shuffle. Windowed hash arithmetic is the
    * [[RollBase]]/[[RollP]] integer fold — missing leading lags
    * coalesce to 0, and fold(0⊕…) ≡ fold over the present suffix, so
    * positions < W hash their true prefix window. */
  /** The (doc_id, chunk_id, n_words, chunk_hash) CDC chunk table —
    * [[cdcChunks]]'s core, exposed for the insertion-stability spec. */
  private[graft] def cdcChunkTable(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pos = docs.select(col("doc_id"), posexplode(wordsCol).as(Seq("i", "w")))
      .select(col("doc_id"), col("i"), col("w"),
        conv(substring(md5(concat(lit("cdc:"), col("w"))), 1, 8), 16, 10)
          .cast("long").as("v"))
    val wOrd = Window.partitionBy("doc_id").orderBy("i")
    val hFull = (Seq(3, 2, 1).foldLeft(lit(0L)) { (acc, k) =>
      (acc * RollBase + coalesce(lag(col("v"), k).over(wOrd), lit(0L))) % RollP
    } * RollBase + col("v")) % RollP
    val cid = pos
      .withColumn("b", when(hFull % CdcMask === 0, 1L).otherwise(0L))
      .withColumn("chunk_id", coalesce(
        sum(col("b")).over(wOrd.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    cid.groupBy("doc_id", "chunk_id")
      .agg(count(lit(1)).as("n_words"),
        md5(array_join(sort_array(collect_list(struct(col("i"), col("w"))))
          .getField("w"), " ")).as("chunk_hash"))
  }

  def cdcChunks(docs: DataFrame): DataFrame = {
    val chunks = cdcChunkTable(docs)
    val dup = chunks.groupBy("chunk_hash")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .where(col("nd") > 1)
      .select(col("chunk_hash"), lit(1L).as("is_dup"))
    val perDoc = chunks.join(dup, Seq("chunk_hash"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(coalesce(col("is_dup"), lit(0L))).as("n_dup_chunks"),
        max(col("n_words")).as("max_chunk_words"))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_dup_chunks"), lit(0L)).as("n_dup_chunks"),
        coalesce(col("max_chunk_words"), lit(0L)).as("max_chunk_words"))
      .orderBy("doc_id")
  }

  /** Winnowing geometry: [[WinK]]-word k-grams, windows of [[WinW]]
    * consecutive k-grams. The scheme guarantees any shared word run of
    * length ≥ WinW + WinK − 1 yields a shared fingerprint; expected
    * density is 2/(WinW+1). Tie-break: RIGHTMOST minimal hash (robust
    * winnowing) via the packed (hash, reversed-position) integer —
    * valid while documents stay under 2^20 words. */
  val WinK = 4
  val WinW = 4
  private val WinPosBits = 20

  /** DOCUMENT FINGERPRINTING by WINNOWING (`text_winnow`) — the MOSS
    * algorithm (Schleimer, Wilkerson & Aiken, SIGMOD 2003): hash every
    * [[WinK]]-word k-gram (the [[RollBase]]/[[RollP]] integer fold, a
    * distinct `wn:` salt), slide a window of [[WinW]] consecutive
    * k-grams, and select each window's minimal hash (rightmost on
    * ties); the distinct selected positions are the document's
    * fingerprints. Unlike [[fingerprint]]'s whole-document hashes or
    * [[cdcChunkTable]]'s boundary rule, winnowing GUARANTEES detection:
    * two documents sharing any run of ≥ WinW+WinK−1 words share a
    * fingerprint — the plagiarism/overlap-detection contract. Emits per
    * doc: k-gram count, fingerprint count, count of fingerprint hashes
    * ALSO selected in ≥1 other doc (the MOSS overlap signal), and the
    * exact integer sum of selected hashes (pins the selected set
    * itself). Docs shorter than WinW+WinK−1 words have no full window
    * and emit zeros — the published algorithm's domain, kept exact.
    *
    * Scale shape: the cdc plan — posexplode, then the k-gram fold
    * (lag×3) AND the window minimum ride ONE doc-keyed (doc, pos) sort;
    * selected fingerprints dedup by position in the same partitioning;
    * only (doc_id, hash) pairs reach the cross-doc shuffle, whose key
    * space is content-bounded (≈ 2/(WinW+1) of k-grams). The packed
    * min is plain integer arithmetic — identical in DuckDB. */
  def winnow(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pos = docs.select(col("doc_id"), posexplode(wordsCol).as(Seq("i", "w")))
      .select(col("doc_id"), col("i"),
        conv(substring(md5(concat(lit("wn:"), col("w"))), 1, 8), 16, 10)
          .cast("long").as("v"))
    val wOrd = Window.partitionBy("doc_id").orderBy("i")
    val h = (Seq(3, 2, 1).foldLeft(lit(0L)) { (acc, k) =>
      (acc * RollBase + coalesce(lag(col("v"), k).over(wOrd), lit(0L))) % RollP
    } * RollBase + col("v")) % RollP
    // valid k-grams end at i >= WinK-1; pack (h, reversed i) so that
    // min() = minimal hash, ties to the RIGHTMOST (largest i) position
    val packed = pos.withColumn("h", h).where(col("i") >= WinK - 1)
      .withColumn("m",
        col("h") * (1L << WinPosBits) + (lit((1L << WinPosBits) - 1) - col("i")))
    // full windows only: the WinW-th valid k-gram onward (same sort as
    // the fold — Catalyst plans both window layers over one exchange)
    val sel = packed
      .withColumn("selm", min(col("m")).over(wOrd.rowsBetween(-(WinW - 1), 0)))
      .where(col("i") >= WinK - 1 + WinW - 1)
      .select(col("doc_id"),
        ((lit(1L << WinPosBits) - 1) - col("selm") % (1L << WinPosBits)).as("fp_pos"),
        expr(s"selm div ${1L << WinPosBits}").as("fp_h"))
      .distinct()
    val perDoc = sel.groupBy("doc_id")
      .agg(count(lit(1)).as("n_fp"), sum(col("fp_h")).as("fp_sum"))
    val docHashes = sel.select(col("doc_id"), col("fp_h")).distinct()
    val shared = docHashes.groupBy("fp_h")
      .agg(countDistinct(col("doc_id")).as("nd")).where(col("nd") > 1)
      .select(col("fp_h"), lit(1L).as("is_shared"))
    val sharedPerDoc = docHashes.join(shared, Seq("fp_h"), "left")
      .groupBy("doc_id").agg(sum(coalesce(col("is_shared"), lit(0L))).as("n_shared"))
    docs.select(col("doc_id"),
        greatest(size(wordsCol) - (WinK - 1), lit(0)).cast("long").as("n_kgrams"))
      .join(perDoc, Seq("doc_id"), "left")
      .join(sharedPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_kgrams"),
        coalesce(col("n_fp"), lit(0L)).as("n_fp"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        coalesce(col("fp_sum"), lit(0L)).as("fp_sum"))
      .orderBy("doc_id")
  }

  /** Exact per-language length percentiles by RANK SELECTION: the value
    * at row ceil(q·n) of the in-group sort — all-integer arithmetic, so
    * both engines agree bit-for-bit (interpolating quantile functions
    * differ across engines in convention and FP rounding). Distributed
    * shape: one shuffle on the group key + in-partition sort; at scale
    * with a skewed group you'd switch to an approx sketch or a two-pass
    * range-partitioned selection, same contract. */
  def lengthPercentiles(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang").orderBy("n_chars")
    val wn = Window.partitionBy("lang")
    val ranked = docs.select(col("lang"), col("n_chars"),
      row_number().over(w).as("rn"), count(lit(1)).over(wn).as("n"))
    def atQ(q: Double, name: String) =
      min(when(col("rn") === ceil(col("n") * q).cast("long"), col("n_chars"))).as(name)
    ranked.groupBy("lang")
      .agg(max(col("n")).as("n_docs"), atQ(0.5, "p50"), atQ(0.9, "p90"), atQ(0.99, "p99"))
      .orderBy("lang")
  }

  /** Deterministic hash split (train/eval sampling): keep a doc iff its
    * md5-derived bucket of doc_id falls under [[SamplePct]] — stable
    * under reruns, re-partitioning, and corpus growth (membership depends
    * only on doc_id), the property random() sampling lacks. */
  val SamplePct = 5
  def hashSample(docs: DataFrame): DataFrame =
    docs.where(Dedup.h32(lit("smp"), col("doc_id").cast("string")) % 100 < SamplePct)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy("doc_id")

  /** STRATIFIED sample: exactly [[StratumK]] documents per language
    * (fewer iff the stratum is smaller), chosen by md5-hash order so
    * membership is deterministic and stable under re-partitioning —
    * the per-stratum-exact counterpart of [[hashSample]]'s Bernoulli
    * split. The rank filter plans as a WindowGroupLimit: each input
    * partition pre-truncates to its local top-K before the stratum
    * shuffle, so the exchange carries O(partitions·K) rows per stratum,
    * not the corpus — the few-large-strata skew a naive window would
    * hit at 100 TB never materializes. */
  val StratumK = 10
  def stratifiedSample(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang")
      .orderBy(md5(concat(lit("strat:"), col("doc_id").cast("string"))), col("doc_id"))
    docs
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= StratumK)
      .select(col("doc_id"), col("lang"), col("source"), col("rnk").cast("long").as("rnk"))
      .orderBy("lang", "rnk")
  }

  /** Canonical text normalization — the cleaning pass every corpus build
    * runs first: lowercase, strip non-letter runs to single spaces, trim.
    * Emitted as (hash, lengths) so the gate compares the full normalized
    * string without shipping it. Pure codegen'd per-row chain. */
  def normalize(docs: DataFrame): DataFrame = {
    val norm = trim(regexp_replace(lower(col("text")), TokenRe0, " "))
    docs.select(
        col("doc_id"),
        md5(norm).as("norm_hash"),
        length(norm).cast("long").as("n_norm_chars"),
        length(col("text")).cast("long").as("n_raw_chars"))
      .orderBy("doc_id")
  }
  // the tokenizer class reused as a replacement pattern
  private val TokenRe0 = WordCount.TokenRe

  // ---- PII redaction (`text_pii`) ----

  /** PII patterns, applied in THIS order (most specific first, each
    * stage counting on the PREVIOUS stage's output, so one entity can
    * never half-match a later pattern). The literal strings are shared
    * with the oracle: every construct used (char classes, {m,n}
    * bounds, non-capturing groups, \b) parses identically in Java
    * regex (Spark codegen) and RE2 (DuckDB). */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn",   "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b",                "<SSN>"),
    ("phone", "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b",                "<PHONE>"),
    ("ip",    "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b",            "<IP>"))

  /** Deterministic synthetic-PII layer: the gate corpus is generated
    * word salad carrying no organic PII, so the query APPENDS entities
    * derived purely from `doc_id` (email, phone, IP, SSN; every 5th doc
    * stays clean so zero-count rows gate too). The construction is
    * mirrored literally by the oracle — the OPERATOR under test is the
    * redaction chain, the injection is shared test scaffolding, exactly
    * the mm_* pattern (fixtures derived from the corpus, stats gated). */
  private def piiInjected: Column = {
    val id = col("doc_id")
    concat(col("text"),
      when(pmod(id, lit(5)) === 0, lit("")).otherwise(concat(
        lit(" contact u"), id,
        lit("@mail"), pmod(id, lit(7)), lit(".example or "),
        lpad(pmod(id * 7919, lit(1000)).cast("string"), 3, "0"), lit("-"),
        lpad(pmod(id * 104729, lit(1000)).cast("string"), 3, "0"), lit("-"),
        lpad(pmod(id * 1299709, lit(10000)).cast("string"), 4, "0"),
        lit(" from 10."), pmod(id, lit(256)), lit(".0."), pmod(id * 31, lit(256)),
        lit(" id 123-45-"), lpad(pmod(id, lit(10000)).cast("string"), 4, "0"))))
  }

  /** PII REDACTION (`text_pii`) — the scrubbing pass a production
    * training corpus runs before anything ships to a trainer: emails,
    * SSNs, phone numbers, and IPv4 addresses replaced with typed mask
    * tokens. Pure codegen'd per-row regexp chain — map-only, zero
    * shuffles before the final order, the 100 TB shape by construction.
    *
    * Gate contract per doc: the per-type redaction counts (each counted
    * on the previous stage's output, in [[PiiPatterns]] order), the
    * RESIDUAL match count after all stages (must be 0 — the gate checks
    * the redactor's own completeness), and md5+length of the cleaned
    * text (a single surviving digit anywhere breaks the hash). */
  def piiRedact(docs: DataFrame): DataFrame = {
    // CPU-floored (r16): the staged regex bank is the whole cost of
    // this map-only key (measured 1.78 → 0.64 s) — see
    // [[graft.Tables.cpuFloored]]
    val staged = PiiPatterns.zipWithIndex.foldLeft(
        graft.Tables.cpuFloored(docs).select(col("doc_id"), piiInjected.as("s0"))) {
      case (df, ((name, pat, mask), i)) =>
        df.withColumn(s"n_$name", regexp_count(col(s"s$i"), lit(pat)).cast("long"))
          .withColumn(s"s${i + 1}", regexp_replace(col(s"s$i"), pat, mask))
    }
    val cleaned = col(s"s${PiiPatterns.size}")
    val residual = PiiPatterns.map { case (_, pat, _) =>
      regexp_count(cleaned, lit(pat)).cast("long") }.reduce(_ + _)
    staged.select(
        col("doc_id") +: PiiPatterns.map { case (name, _, _) => col(s"n_$name") } :+
        residual.as("n_residual") :+
        md5(cleaned).as("clean_hash") :+
        length(cleaned).cast("long").as("clean_len"): _*)
      .orderBy("doc_id")
  }

  /** TF-IDF top terms per document: term frequency from the reference
    * tokenizer, document frequency across the corpus, top-[[TfidfTopK]]
    * terms ranked by the ALL-INTEGER key (tf desc, df asc, word asc) so
    * the selected rows are engine-exact; the tfidf score itself
    * (tf · ln(N/df)) is emitted rounded as a value column. Shape: two
    * corpus-keyed aggregations (doc-term, term) + a broadcast 1-row doc
    * count + a doc-keyed window — no all-pairs, no driver action; the
    * doc-count join mirrors q15's broadcast scalar pattern. */
  val TfidfTopK = 3
  def tfidf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = WordCount.tokens(docs, col("doc_id"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tf").desc, col("df").asc, col("word").asc)
    tf.join(df_, "word")
      .join(broadcast(nDocs), lit(true))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= TfidfTopK)
      .select(col("doc_id"), col("word"), col("tf"), col("df"),
        col("rnk").cast("long").as("rnk"),
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 4).as("tfidf"))
      .orderBy("doc_id", "rnk")
  }

  /** Gopher/C4-style repetition and quality rules (the pre-training
    * corpus filter family): per document — word count, mean word length,
    * most-common-word frequency fraction, duplicate-bigram fraction, and
    * stopword presence, plus the combined pass/fail flag. The repetition
    * signals (top-word fraction, duplicate n-gram fraction) are the
    * standard word-salad/boilerplate detectors from the Gopher and C4
    * cleaning recipes.
    *
    * Distributed shape: one whitespace tokenize, then both statistics
    * families flow through (doc_id, term)-keyed counts — the wordcount
    * shuffle shape with full map-side combining — re-aggregated by
    * doc_id. Both branch outputs land hash-partitioned on doc_id, so the
    * final join adds no exchange. No windows over raw words, no per-row
    * O(n²) lambdas: at 100 TB the cost is two combiner-friendly shuffles
    * of (doc, term) counts, not a corpus re-sort. */
  val GopherStops = Seq("the", "a", "of", "and", "to")
  val GopherTopFracMax = 0.12
  val GopherDupFracMax = 0.15
  val GopherMinWords = 25

  /** (doc_id, ws) whitespace-word arrays — shared by the gopher and
    * decontamination operators. */
  private def wsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      filter(split(col("text"), " "), w => w =!= "").as("ws"))

  /** (doc_id, g) word n-grams, exploded; docs shorter than `n` words
    * yield no rows. Derived from the projected array attribute (an
    * inline expression here would be re-split per element by the
    * lambda). Shared with [[Dedup.duplicatedSpans]]. */
  private[operators] def gramsOf(docs: DataFrame, n: Int): DataFrame =
    wsOf(docs).select(col("doc_id"),
      explode(when(size(col("ws")) >= n,
          transform(sequence(lit(0), size(col("ws")) - n),
            i => concat_ws(" ", slice(col("ws"), i + 1, lit(n)))))
        .otherwise(array().cast("array<string>"))).as("g"))

  def gopherRules(docs: DataFrame): DataFrame = {
    val ws = wsOf(docs)
    val wc = ws.select(col("doc_id"), explode(col("ws")).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("cnt"))
    val wstat = wc.groupBy("doc_id").agg(
      sum("cnt").as("n_words"),
      max("cnt").as("max_cnt"),
      sum(length(col("word")).cast("long") * col("cnt")).as("sum_wlen"),
      coalesce(sum(when(col("word").isInCollection(GopherStops), col("cnt"))), lit(0L))
        .as("stop_cnt"))
    val gstat = gramsOf(docs, 2)
      .groupBy("doc_id", "g").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id").agg(sum("cnt").as("n_grams"), count(lit(1)).as("d_grams"))
    val topFrac = col("max_cnt").cast("double") / col("n_words")
    val dupFrac = coalesce(
      (col("n_grams") - col("d_grams")).cast("double") / nullif(col("n_grams"), lit(0L)),
      lit(0.0))
    wstat.join(gstat, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        round(col("sum_wlen").cast("double") / col("n_words"), 4).as("mean_wlen"),
        round(topFrac, 4).as("top_frac"),
        round(dupFrac, 4).as("dup_frac"),
        col("stop_cnt"),
        (topFrac <= GopherTopFracMax && dupFrac <= GopherDupFracMax &&
          col("n_words") >= GopherMinWords && col("stop_cnt") >= 1)
          .cast("long").as("passes"))
      .orderBy("doc_id")
  }

  /** Benchmark DECONTAMINATION (the GPT-3-style n-gram overlap filter):
    * flag corpus documents sharing any [[DecontamN]]-gram with the
    * benchmark set. The benchmark here is a deterministic slice of the
    * corpus (doc_id % [[BenchMod]] == 0) standing in for an external
    * eval file; in production it is tiny by definition, which is why the
    * overlap test is a BROADCAST join against the distinct benchmark
    * shingles — the corpus side stays map-only (shingle, distinct per
    * doc) plus one doc-keyed count, and never shuffles on gram text.
    * Emits (doc_id, n_hits) for contaminated docs; composing an
    * anti-join against this result is the corpus-cleaning step. */
  val DecontamN = 4
  val BenchMod = 97
  def decontaminate(docs: DataFrame): DataFrame = {
    val grams = gramsOf(docs, DecontamN)
    val bench = grams.where(col("doc_id") % BenchMod === 0).select("g").distinct()
    // broadcast-filter FIRST, dedupe after: the (doc_id, g) distinct then
    // shuffles only the matching grams (O(hits)), never the corpus
    grams.where(col("doc_id") % BenchMod =!= 0)
      .join(broadcast(bench), "g")
      .select("doc_id", "g").distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
      .orderBy("doc_id")
  }

  /** Contaminated doc_ids of `corpus` against the benchmark slice of
    * `benchDocs` — the composable form the training pipeline anti-joins:
    * the benchmark set stays fixed (drawn from the ORIGINAL corpus, as
    * an external eval file would be) while the corpus side is whatever
    * survived the preceding stages. Same broadcast-first topology as
    * [[decontaminate]]. */
  def contaminatedIds(corpus: DataFrame, benchDocs: DataFrame): DataFrame = {
    val bench = gramsOf(benchDocs.where(col("doc_id") % BenchMod === 0), DecontamN)
      .select("g").distinct()
    gramsOf(corpus.where(col("doc_id") % BenchMod =!= 0), DecontamN)
      .join(broadcast(bench), "g")
      .select("doc_id").distinct()
  }

  /** Sequence PACKING — the concatenate-and-cut step that turns a
    * cleaned corpus into fixed-length training sequences (the standard
    * GPT pre-training shape): documents are laid out in a deterministic
    * order (lang, doc_id) per language stream, each doc gets its token
    * offset from a running sum, and the covered sequence window
    * [first_seq, last_seq] falls out of integer division by
    * [[PackSeqLen]]. All-integer arithmetic ⇒ engine-exact.
    *
    * Scale: the classic DISTRIBUTED SCAN (two-level prefix sum), so no
    * language stream ever serializes through one task:
    *
    *  1. each doc's range is `doc_id div` [[PackRangeSpan]] — a
    *     monotone coarsening of the per-lang doc_id order, so level-1
    *     running sums window over (lang, rng): one task per range,
    *     ≤ [[PackRangeSpan]] docs each, parallelism grows with data;
    *  2. level-2 seeds each range's exclusive offset from the per-range
    *     token totals — a window PARTITIONED BY lang over the totals
    *     frame, which is smaller than the data by the span factor
    *     (recurse the same step if even that frame outgrows a task);
    *  3. offsets join back on (lang, rng) — the level-1 side is already
    *     hash-partitioned on those keys from its window, so the join
    *     adds no exchange on the big side; the totals frame broadcasts
    *     only under the [[PackBroadcastMaxDocs]] size gate (at 10⁹+
    *     docs the O(n_docs/64) frame must shuffle, not broadcast).
    *
    * The window carries (doc_id, n_tokens) pairs ONLY — the text never
    * enters a shuffle — and the per-doc arithmetic is unchanged from
    * the single-window form (all-integer ⇒ engine-exact, same oracle). */
  val PackSeqLen = 64
  val PackRangeSpan = 64L

  /** Docs-count ceiling under which the offsets frame (one row per
    * (lang, rng) — n_docs/64 rows, ~10 MB here) may carry a broadcast
    * hint. Above it the hint would force a hundreds-of-MB broadcast at
    * 10⁹+ docs — the plan's would-be 100-TB failure point — so the join
    * goes plain and reuses the big side's (lang, rng) partitioning
    * (PlanShapeSpec pins the degraded shape). */
  val PackBroadcastMaxDocs = 16L << 20

  def packing(docs: DataFrame): DataFrame = {
    val nTok = size(filter(split(col("text"), " "), w => w =!= "")).cast("long")
    packingOf(docs.select(col("doc_id"), col("lang"), nTok.as("n_tokens")),
      broadcastOffs = docs.count() <= PackBroadcastMaxDocs)
  }

  /** [[packing]] with the REAL training-data unit: per-doc subword
    * counts from [[bpeTokens]] instead of the whitespace proxy — the
    * offsets/sequence windows are then counted in actual model tokens.
    * Same distributed-scan topology (the packing input is already a
    * (doc_id, lang, n_tokens) frame either way). */
  def bpePacking(docs: DataFrame): DataFrame =
    packingOf(bpeTokens(docs)
      .join(docs.select("doc_id", "lang"), "doc_id")
      .select(col("doc_id"), col("lang"), col("n_subwords").as("n_tokens")),
      broadcastOffs = docs.count() <= PackBroadcastMaxDocs)

  /** Words per pseudo-line for [[lineDedup]] — aligned (non-sliding)
    * blocks, the analog of a text line in this unpunctuated corpus. */
  val LineWords = 8

  /** LINE-LEVEL KEEP-FIRST DEDUP (`text_linededup`, r11) — the C4 rule
    * (Raffel et al. 2020: discard every repeated line, keeping one
    * occurrence; RefinedWeb runs the same pass) at a granularity this
    * suite did not yet gate: `dedup_*` keys dedup DOCUMENTS and
    * `dedup_substring`/`dedup_lcs` FLAG spans, but the production
    * cleaning pass REMOVES repeated lines while keeping the documents —
    * boilerplate headers/footers/navigation chrome die, the prose
    * survives. The corpus is unpunctuated word streams, so a "line" is
    * an ALIGNED [[LineWords]]-word block (non-overlapping — unlike
    * `dedup_substring`'s sliding windows, a word belongs to exactly ONE
    * line, which is what makes removal well-defined). Keep-first: an
    * occurrence survives iff its digest is corpus-unique OR it is the
    * (doc_id, block)-minimal occurrence — a total order, so both
    * engines keep the identical set. Output per doc: line count, kept
    * count, kept word volume, and an order-insensitive kept-digest hash
    * sum (the gate pins exactly WHICH lines survived, not just counts).
    *
    * Scale: NO windows anywhere — lines shuffle as fixed-width digests
    * (never text), the corpus-frequency count and the keep-first argmin
    * (min(struct(doc_id, blk))) are both commutative/associative ⇒
    * map-side combinable (a boilerplate line repeated 10⁸ times
    * collapses in the combiner), the digest-sized freq/argmin frames
    * join back on the already-shuffled digest key, and the per-doc
    * rollup is one combinable aggregate. This IS the C4 pass shape at
    * 100 TB. */
  /** The aligned-block frame (doc_id, blk, dig, wl) [[lineDedup]] and
    * its streaming twin share — one explode, digests fixed-width. */
  private[graft] def lineBlocks(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), filter(split(col("text"), " "), w => w =!= "").as("ws"))
      .where(size(col("ws")) > 0)
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(1, CAST((size(ws) + ${LineWords - 1}) DIV $LineWords AS INT)),
           |  i -> struct(
           |    concat_ws(' ', slice(ws, (i-1)*$LineWords + 1, $LineWords)) AS line,
           |    CAST(least(size(ws) - (i-1)*$LineWords, $LineWords) AS BIGINT) AS wl))"""
          .stripMargin)).as(Seq("p", "s")))
      .select(col("doc_id"), (col("p") + 1).cast("long").as("blk"),
        md5(col("s.line")).as("dig"), col("s.wl").as("wl"))

  def lineDedup(docs: DataFrame): DataFrame = {
    val b = lineBlocks(docs)
    val f = b.groupBy("dig").agg(count(lit(1)).as("cnt"))
    val k = b.groupBy("dig").agg(min(struct(col("doc_id"), col("blk"))).as("m"))
      .select(col("dig"), col("m.doc_id").as("kd"), col("m.blk").as("kb"))
    val kept = (col("cnt") === 1) ||
      (col("doc_id") === col("kd") && col("blk") === col("kb"))
    b.join(f, "dig").join(k, "dig")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(kept, 1L).otherwise(0L)).as("n_kept"),
        sum(when(kept, col("wl")).otherwise(0L)).as("words_kept"),
        sum(when(kept, Dedup.h32(lit("ld"), col("dig"))).otherwise(0L)).as("sum_h"))
      .orderBy("doc_id")
  }

  /** Minimum words for an extracted block to count as prose. */
  val ExtractMinWords = 5

  /** RAW-WEB TEXT EXTRACTION (`text_extract`, r12) — the HTML →
    * clean-text boilerplate stage every real 100 TB corpus build STARTS
    * with (C4's extraction pass, trafilatura's block rules): the
    * pipeline's other text keys begin at clean `documents.text`; this
    * key begins at staged single-line HTML pages
    * ([[graft.sources.Sources.htmlCorpusDir]]) and recovers the prose.
    * Per page: (1) segment into block elements (p/nav/footer/div) by
    * tag-matched regex; (2) per block, strip tags, unescape entities,
    * and compute the two density integers the keep rule needs — word
    * count and LINK-TEXT chars; (3) keep a block iff it has ≥
    * [[ExtractMinWords]] words AND link text is at most a third of its
    * chars (`3·link_chars ≤ chars` — integer arithmetic, the h32
    * discipline, so the oracle mirrors it exactly). Nav/menu chrome
    * dies on min-words, the link-stuffed footer dies on link density
    * (it PASSES min-words — density does real work), prose survives.
    * Output per doc (id parsed from the page itself): total/kept block
    * counts, kept word volume, and the h32 digest of the extracted
    * text — the gate pins exactly WHICH bytes were recovered.
    *
    * Honest simplifications, named: regex block segmentation assumes
    * non-nested block tags (true of the staged corpus; real HTML wants
    * a DOM walk — a per-partition CPU task with identical Spark-side
    * plumbing), and the density rule is the flat two-signal core of
    * trafilatura's scoring, not its full rule set.
    *
    * Scale: extraction is ROW-LOCAL — whole-stage-codegen'd regex over
    * each page, zero joins, zero shuffles before the boundary sort; the
    * exact shape that saturates a 1000-executor scan of a WARC dump.
    * The per-block loop is an array transform/filter INSIDE the row,
    * so a page never explodes into per-block rows on the wire. */
  /** Shared page parse: doc metadata recovered from the page itself
    * (id from <title>, declared language from the <html lang> attribute,
    * source from the nav link — the metadata a WARC record carries) plus
    * the per-block (txt, link_chars) structs, all row-local. `ks` is
    * the density-kept block array. */
  private def extractParsed(pages: DataFrame): DataFrame =
    pages
      .selectExpr(
        "CAST(regexp_extract(value, '<title>Doc ([0-9]+)</title>', 1) AS BIGINT) AS doc_id",
        "regexp_extract(value, '<html lang=\"([^\"]*)\"', 1) AS lang",
        "regexp_extract(value, 'href=\"/s/([^\"]*)\"', 1) AS source",
        """transform(
          |  regexp_extract_all(value, '<(p|nav|footer|div)[^>]*>(.*?)</\\1>', 2),
          |  b -> named_struct(
          |    'txt', regexp_replace(regexp_replace(regexp_replace(
          |             regexp_replace(b, '<[^>]+>', ''),
          |             '&lt;', '<'), '&gt;', '>'), '&amp;', '&'),
          |    'lc',  aggregate(regexp_extract_all(b, '<a[^>]*>([^<]*)</a>', 1),
          |             CAST(0 AS BIGINT), (a, t) -> a + length(t)))) AS bs"""
          .stripMargin)
      .selectExpr(
        "doc_id", "lang", "source",
        "CAST(size(bs) AS BIGINT) AS n_blocks",
        s"""filter(bs, s ->
           |  size(filter(split(s.txt, ' '), w -> w <> '')) >= $ExtractMinWords
           |  AND 3 * s.lc <= length(s.txt)) AS ks""".stripMargin)

  def extractText(pages: DataFrame): DataFrame =
    extractParsed(pages)
      .selectExpr(
        "doc_id",
        "n_blocks",
        "CAST(size(ks) AS BIGINT) AS n_kept",
        """CAST(aggregate(ks, CAST(0 AS BIGINT),
          |  (a, s) -> a + size(filter(split(s.txt, ' '), w -> w <> '')))
          |  AS BIGINT) AS words_kept""".stripMargin,
        """CAST(conv(substr(md5(concat('ex:',
          |  concat_ws(' ', transform(ks, s -> s.txt)))), 1, 8), 16, 10)
          |  AS BIGINT) AS text_h""".stripMargin)
      .orderBy("doc_id")

  /** The extracted corpus as a documents-shaped frame (doc_id, text,
    * lang, source, n_chars) — what the downstream pipeline actually
    * consumes from a raw-web ingest: extracted prose plus the metadata
    * the page itself carries. Row-local like [[extractText]]; the
    * `pipe_web` key feeds this straight into
    * [[TrainingPipeline.summary]], gating raw HTML → cleaned corpus end
    * to end. */
  def extractedCorpus(pages: DataFrame): DataFrame =
    extractParsed(pages)
      .selectExpr(
        "doc_id",
        "concat_ws(' ', transform(ks, s -> s.txt)) AS text",
        "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))

  /** Documents per training shard. */
  val ShardSize = 256L

  /** SEEDED DETERMINISTIC SHARD SHUFFLE (`text_shard`, r11) — the last
    * step between [[packing]] and a training run: a training corpus is
    * globally SHUFFLED (so every shard is an unbiased sample and data
    * order doesn't correlate with ingestion order) and packed into
    * fixed-size shards a dataloader can address as (shard_id,
    * shard_pos). The permutation is the h32 discipline every gated
    * sampler uses — key = h32("shard", doc_id), a seeded hash so the
    * shuffle is REPRODUCIBLE (same seed ⇒ same training order, the
    * property experiment reruns depend on) — and the global position is
    * the rank in (key, doc_id) order (doc_id breaks hash collisions:
    * a total order, so both engines produce the identical permutation).
    * Output: (doc_id, position, shard_id, shard_pos), all integer.
    *
    * Scale: global rank is the `Sources.globalOffsets` two-phase
    * DISTRIBUTED SCAN transposed onto the hash-key order — never a
    * single-task global rank: (1) range-partition by (key, doc_id), so
    * each shuffle partition holds a contiguous run of the permutation
    * (h32 is uniform, so ranges are balanced — no skew salt needed);
    * (2) local row_number per partition (parallel); (3) per-partition
    * counts → a PARTITION-COUNT-sized bases frame whose own prefix scan
    * is one tiny single-task window — O(#partitions) scalars, cluster
    * topology not data volume, always broadcastable back. Partition
    * boundaries are pure implementation: base + local rank is the same
    * global rank wherever the range sampler cuts — so the oracle
    * mirrors only the permutation arithmetic (one row_number over
    * (key, doc_id)). */
  def sharding(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // localCheckpoint(true): the bases branch and the rank branch BOTH
    // consume keyed — un-pinned, each subtree would carry its own
    // repartitionByRange of the same input, and global-position
    // correctness would rest on ReuseExchange producing identical range
    // boundaries and pids in both (an AQE re-plan or a reuse miss would
    // silently corrupt positions with duplicates/gaps). The eager
    // checkpoint freezes the (k, doc_id, pid) assignment in ONE
    // materialization that both branches read; the skinny frame stays
    // cached under the session contract (Cleanup.releaseAll drops it).
    val keyed = docs.select(col("doc_id"),
        Dedup.h32(lit("shard"), col("doc_id").cast("string")).as("k"))
      .repartitionByRange(col("k"), col("doc_id"))
      .withColumn("pid", spark_partition_id())
      .pinned
    val wLoc = Window.partitionBy("pid").orderBy("k", "doc_id")
    val wBases = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    val bases = keyed.groupBy("pid").agg(count(lit(1)).as("cnt"))
      .withColumn("base", coalesce(sum("cnt").over(wBases), lit(0L)))
      .select("pid", "base")
    keyed
      .withColumn("rn", row_number().over(wLoc).cast("long"))
      .join(broadcast(bases), "pid")
      .withColumn("position", col("base") + col("rn") - 1)
      .select(col("doc_id"), col("position"),
        expr(s"position div $ShardSize").as("shard_id"),
        (col("position") % ShardSize).as("shard_pos"))
      .orderBy("position")
  }

  /** Curriculum upper threshold: quality ≥ this ⇒ phase 0 (cleanest
    * data first); [[QualityMin]] splits phases 1/2. */
  val CurriculumHi = 0.62

  /** CURRICULUM ORDERING (`text_curriculum`, r11) — the quality-phased
    * variant of [[sharding]]: curriculum training presents data in
    * quality tiers (cleanest first is the common warm-up recipe;
    * Bengio et al. 2009 for the principle, data-mixing/annealing
    * pipelines for current practice), so the global training order is
    * PHASE-MAJOR — all of phase 0's shards, then phase 1's, then
    * phase 2's — with the seeded shuffle applied WITHIN each phase
    * (unbiased order inside a tier, deterministic across reruns).
    * Phases cut the same 6dp-stable quality score the pipeline's
    * filter stages gate (≥ [[CurriculumHi]] → 0, ≥ [[QualityMin]] → 1,
    * else 2; a letterless doc's NULL score falls to 2 identically in
    * both engines). Output (doc_id, phase, position, shard_id,
    * shard_pos) — position is the phase-major global rank.
    *
    * Scale: [[sharding]]'s two-phase distributed scan with phase as a
    * leading range key — local ranks per (partition, phase) in
    * parallel, a per-(partition, phase) counts frame (O(P·phases),
    * topology-bounded) seeds within-phase bases, and the phase offsets
    * are a PHASE-COUNT-sized window (3 rows — constant, the `wc_place`
    * bounded class). The quality score evaluates inline in the scan
    * (zero joins, the pipeline's row-local-filter rule). */
  /** The row-local curriculum key triple (doc_id, phase, k) — the
    * map-only stage shared by the batch ordering and its streaming
    * twin ([[graft.streaming.CorpusStream.incrementalCurriculum]]),
    * which folds exactly this frame per micro-batch. */
  private[graft] def curriculumKeys(docs: DataFrame): DataFrame = {
    val q = qualityScoreCol
    // CPU-floored (r16): the quality-score expression tokenizes every
    // row — see [[graft.Tables.cpuFloored]]
    graft.Tables.cpuFloored(docs).select(col("doc_id"),
      when(q >= CurriculumHi, 0L).when(q >= QualityMin, 1L).otherwise(2L).as("phase"),
      Dedup.h32(lit("shard"), col("doc_id").cast("string")).as("k"))
  }

  def curriculum(docs: DataFrame): DataFrame = curriculumOf(curriculumKeys(docs))

  /** Phase-major ordering over a precomputed (doc_id, phase, k) key
    * frame — the rank machinery alone, so a stored/streamed key index
    * orders identically to the inline batch path. */
  private[graft] def curriculumOf(keys: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // same pid-pinning checkpoint as [[sharding]]: three branches
    // (bases, offs via bases, ranks) must see ONE range partitioning
    val keyed = keys
      .repartitionByRange(col("phase"), col("k"), col("doc_id"))
      .withColumn("pid", spark_partition_id())
      .pinned
    val wLoc = Window.partitionBy("pid", "phase").orderBy("k", "doc_id")
    val wBase = Window.partitionBy("phase").orderBy("pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = keyed.groupBy("pid", "phase").agg(count(lit(1)).as("cnt"))
      .withColumn("base", coalesce(sum("cnt").over(wBase), lit(0L)))
    val wOff = Window.orderBy("phase").rowsBetween(Window.unboundedPreceding, -1)
    val offs = bases.groupBy("phase").agg(sum("cnt").as("n"))
      .withColumn("poff", coalesce(sum("n").over(wOff), lit(0L)))
      .select("phase", "poff")
    keyed
      .withColumn("rn", row_number().over(wLoc).cast("long"))
      .join(broadcast(bases.select("pid", "phase", "base")), Seq("pid", "phase"))
      .join(broadcast(offs), Seq("phase"))
      .withColumn("position", col("poff") + col("base") + col("rn") - 1)
      .select(col("doc_id"), col("phase"), col("position"),
        expr(s"position div $ShardSize").as("shard_id"),
        (col("position") % ShardSize).as("shard_pos"))
      .orderBy("position")
  }

  /** Core packing over a precomputed (doc_id, lang, n_tokens) frame.
    * `broadcastOffs` is the size gate ([[PackBroadcastMaxDocs]]): the
    * callers decide it from a footer-count of the source table, so the
    * offsets frame broadcasts only while it is genuinely small. */
  def packingOf(tokens: DataFrame, broadcastOffs: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = tokens
      .where(col("n_tokens") > 0)
      .withColumn("rng", expr(s"doc_id div $PackRangeSpan"))
    val wLoc = Window.partitionBy("lang", "rng").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = base.withColumn("run", sum("n_tokens").over(wLoc))
    val wRng = Window.partitionBy("lang").orderBy("rng")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = base.groupBy("lang", "rng").agg(sum("n_tokens").as("rng_total"))
      .withColumn("rng_off", coalesce(sum("rng_total").over(wRng), lit(0L)))
      .select("lang", "rng", "rng_off")
    // Above the size gate, NO broadcast: the big side already carries
    // hashpartitioning(lang, rng) + (lang, rng, doc_id) ordering from its
    // window, so the plain join adds no exchange or sort on it — only
    // the small offs side re-shuffles (PlanShapeSpec pins the shape).
    local.join(if (broadcastOffs) broadcast(offs) else offs, Seq("lang", "rng"))
      .withColumn("start_off", col("rng_off") + col("run") - col("n_tokens"))
      // `div`: true integral division on longs (a double-divide-then-cast
      // would silently lose exactness past 2^53 offsets)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("start_off"),
        expr(s"start_off div $PackSeqLen").as("first_seq"),
        expr(s"(start_off + n_tokens - 1) div $PackSeqLen").as("last_seq"))
      .withColumn("n_seqs", col("last_seq") - col("first_seq") + 1)
      .orderBy("lang", "doc_id")
  }

  /** REAL subword tokenization — greedy longest-match against the fixed
    * [[graft.functions.BpeImpl.Vocab]] (the BPE/WordPiece *inference*
    * step), replacing the whitespace/regex proxies as the
    * training-data unit. Per doc: whitespace word count, subword count,
    * UNK count, and a position-weighted id checksum (Σ position×id over
    * every word's id sequence, multiplicity-weighted) — the checksum
    * pins the exact id sequence of every occurrence, so the gate
    * verifies the full tokenization, not just counts.
    *
    * Scale (the Zipf trick): the per-word encode loop runs once per
    * DISTINCT word — the corpus vocabulary, orders of magnitude smaller
    * than the corpus — via the codegen'd `graft_bpe_ids` expression;
    * occurrences then hash-join their word's precomputed stats and
    * aggregate per doc. Three shuffles total (distinct words, stats
    * join, doc aggregate), none carrying document text.
    *
    * All-integer arithmetic ⇒ engine-exact; the DuckDB oracle runs the
    * same greedy loop as a recursive CTE over the same vocab VALUES
    * list (single source of truth: [[graft.functions.BpeImpl.vocabValuesSql]]). */
  /** Learned-merge count for [[bpeTrain]] — fixed rounds ⇒ static plan
    * depth (the wc_lpa discipline). */
  val BpeTrainMerges = 8

  /** BPE TRAINING (`text_bpe_train`, r9) — learn the merge table from
    * the corpus (Sennrich et al. 2016), the other half of the
    * tokenizer story next to [[bpeTokens]]'s fixed-vocab INFERENCE and
    * the capability every real pipeline runs before it can tokenize:
    * for [[BpeTrainMerges]] rounds, count frequency-weighted adjacent
    * symbol pairs, merge the most frequent pair everywhere, repeat.
    * Output: the learned merges in order — (step, left, right,
    * pair_count), the merges file a tokenizer ships.
    *
    * Scale (how real BPE trainers run on big corpora): training
    * operates on the WORD-FREQUENCY TABLE, not the corpus — one
    * corpus tokenize produces (word, count), and every round is a
    * vocabulary-sized pass (the Zipf compression [[bpeTokens]] already
    * exploits for inference). Per round: one pair-count aggregate, a
    * 1-row argmax (localCheckpointed — computed once, reused by the
    * merge apply and the output), one broadcast merge-apply map pass,
    * lineage truncated per round.
    *
    * Cross-engine exactness: symbol sequences are pipe-delimited
    * strings (`|a||b||c|` — tokens are letters only, so '|' cannot
    * occur) and a merge applies as literal string replace of
    * `|left||right|` with `|leftright|` — both engines' replace is
    * leftmost non-overlapping, and per-symbol delimiters mean adjacent
    * candidate pairs share no characters, so `aaa` under merge (a,a)
    * becomes `[aa, a]` and `aaaa` becomes `[aa, aa]` identically in
    * both (the overlap case a shared-separator encoding gets wrong).
    * Pair counts are exact integers; argmax ties break on
    * (count desc, left, right) — both engines pin the same total
    * order. No end-of-word marker (within-word merges only —
    * documented departure from tokenizers that model word boundaries).
    *
    * Fewer than [[BpeTrainMerges]] learnable pairs (every word a
    * single symbol) ⇒ later rounds emit nothing and the output is
    * short — degenerate corpora shrink the merge table, as real
    * trainers do. */
  def bpeTrain(docs: DataFrame): DataFrame = {
    val (merges, vocab) = bpeTrainRounds(docs, BpeTrainMerges)
    graft.Cleanup.freeCheckpoint(vocab)
    merges.orderBy("step")
  }

  /** The training loop shared by [[bpeTrain]] (which reads the learned
    * MERGES) and [[bpeLearnedTokens]] (which reads the final learned
    * SEGMENTATION): returns (merges, vocab), where vocab is one row per
    * distinct word — (word, w_cnt, seq) with seq the pipe-delimited
    * symbol sequence AFTER `rounds` (≥ 1) merges applied in learned
    * order. The merges run through [[graft.Pin.rounds]] with vocab as
    * the round state; both returned frames read pins (merges the
    * per-round 1-row argmaxes, vocab the last round), and each caller
    * frees the one it does not read. */
  private[graft] def bpeTrainRounds(docs: DataFrame, rounds: Int): (DataFrame, DataFrame) = {
    val sep = "|"
    val wordCounts = WordCount.tokens(docs)
      .groupBy("word").agg(count(lit(1)).as("w_cnt"))
    // per-CODE-POINT symbols (substr counts code points in both
    // engines); split-on-empty-pattern is avoided — it keeps a
    // trailing empty in Spark's limit=-1 semantics
    val vocab0 = wordCounts.select(col("word"), col("w_cnt"),
      concat(lit(sep),
        array_join(transform(sequence(lit(1), length(col("word"))),
          i => col("word").substr(i, lit(1))), sep + sep),
        lit(sep)).as("seq"))
      .pinned
    def syms = split(trim(col("seq"), sep), "\\|\\|")
    val merges = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def merge(vocab: DataFrame, step: Int): DataFrame = {
      val pairs = vocab
        .select(col("w_cnt"),
          explode(zip_with(
            slice(syms, lit(1), greatest(size(syms) - 1, lit(0))),
            slice(syms, lit(2), greatest(size(syms) - 1, lit(0))),
            (a, b) => struct(a.as("a"), b.as("b")))).as("p"))
        .groupBy(col("p.a").as("merge_left"), col("p.b").as("merge_right"))
        .agg(sum("w_cnt").as("pair_count"))
      val best = pairs
        .orderBy(col("pair_count").desc, col("merge_left"), col("merge_right"))
        .limit(1)
        .select(lit(step.toLong).as("step"), col("merge_left"),
          col("merge_right"), col("pair_count"))
        .pinned
      merges += best
      // LEFT join, not cross: when training exhausts early (best is
      // EMPTY — every word already one symbol), the vocab must survive
      // unchanged so the learned segmentation stays usable
      // ([[bpeLearnedTokens]]); a cross join would zero it
      vocab.join(broadcast(best), lit(true), "left")
        .select(col("word"), col("w_cnt"),
          when(col("merge_left").isNull, col("seq"))
            .otherwise(call_function("replace", col("seq"),
              concat(lit(sep), col("merge_left"), lit(sep + sep),
                col("merge_right"), lit(sep)),
              concat(lit(sep), col("merge_left"), col("merge_right"), lit(sep))))
            .as("seq"))
    }
    // the last merge is the kernel's finish, so the final vocab is
    // pinned once, as every earlier round is
    val vocab = Pin.rounds("text_bpe_train", vocab0, rounds - 1)(merge)(merge(_, rounds))
    (merges.reduce(_ unionAll _), vocab)
  }

  /** LEARNED-vocabulary tokenization (`text_bpe_learned`, r10) — the
    * train→tokenize composition the r9 VERDICT asked for: encode every
    * document with the merge table [[bpeTrain]] just LEARNED from this
    * same corpus, rather than [[bpeTokens]]'s fixed shipped
    * [[graft.functions.BpeImpl.Vocab]]. This is how a real pipeline
    * runs (learn merges once, tokenize everything) — the `pipe_train`
    * train-then-serve loop applied to the tokenizer itself.
    *
    * No second encode pass exists: BPE's training invariant is that
    * applying the learned merges in order IS the encode, so the final
    * training vocab's symbol sequence per distinct word is already the
    * learned segmentation ([[bpeTrainRounds]] returns it). Per doc:
    * word count, subword count under the learned merges, and a
    * position-weighted length checksum (Σᵢ i·len(symᵢ) summed over
    * every word occurrence) — symbols are contiguous substrings, so
    * (position, length) pins the exact segmentation of every word.
    *
    * Scale: the training cost (vocabulary-sized rounds, see
    * [[bpeTrain]]) plus one occurrences⋈vocab hash join and a per-doc
    * aggregate — the same Zipf shape as [[bpeTokens]]: the encode work
    * is per DISTINCT word, documents only ride the skinny stats join.
    * All-integer ⇒ engine-exact; the oracle chains the 8 train-round
    * CTEs into the same per-word stats. */
  def bpeLearnedTokens(docs: DataFrame): DataFrame = {
    val (merges, vocab) = bpeTrainRounds(docs, BpeTrainMerges)
    graft.Cleanup.freePins(merges)
    val syms = split(trim(col("seq"), "|"), "\\|\\|")
    val stats = vocab.select(col("word"),
      size(syms).cast("long").as("n_sub"),
      aggregate(
        zip_with(syms, sequence(lit(1), size(syms)),
          (s2, i) => i.cast("long") * length(s2).cast("long")),
        lit(0L), (acc, x) => acc + x).as("cks"))
    WordCount.tokens(docs, col("doc_id")).join(stats, "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum("n_sub").as("n_subwords"),
        sum("cks").as("checksum"))
      .orderBy("doc_id")
  }

  def bpeTokens(docs: DataFrame): DataFrame = {
    val words = docs.select(col("doc_id"),
      explode(filter(split(col("text"), " "), w => w =!= "")).as("w"))
    val wordStats = words.select("w").distinct()
      .withColumn("ids", native(BpeIds(expression(col("w")))))
      .select(col("w"),
        size(col("ids")).cast("long").as("n_sub"),
        size(filter(col("ids"), x => x === graft.functions.BpeImpl.UnkId))
          .cast("long").as("n_unk_w"),
        aggregate(
          zip_with(col("ids"), sequence(lit(1), size(col("ids"))),
            (id, i) => id.cast("long") * i),
          lit(0L), (acc, x) => acc + x).as("cks"))
    words.join(wordStats, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum("n_sub").as("n_subwords"),
        sum("n_unk_w").as("n_unk"),
        sum("cks").as("checksum"))
      .orderBy("doc_id")
  }

  /** Domain-MIXTURE reweighting (DoReMi/data-mixing shape): each source
    * is down-sampled to its own target rate by deterministic hash
    * thresholding — the per-domain Bernoulli counterpart of
    * [[hashSample]]'s global split and [[stratifiedSample]]'s exact-K.
    * Rates derive from the source name (mirrorable arithmetic, stands
    * in for a mixing-weights config table, which at scale would
    * broadcast-join instead). Emits the per-source audit row a mixing
    * run logs: total, kept, achieved rate.
    *
    * Scale: map-only membership (md5 per row), one source-keyed
    * combiner-friendly aggregate. Membership depends only on
    * (doc_id, source) — stable under repartitioning and re-runs. */
  def domainMix(docs: DataFrame): DataFrame = {
    // target percentage for a source: 20 + 15*(srcnum mod 5) ∈ {20..80}
    val rate = lit(20) + lit(15) * (substring(col("source"), 4, 10).cast("int") % 5)
    docs.select(col("source"), col("doc_id"), rate.as("rate"),
        (Dedup.h32(lit("mix"), col("doc_id").cast("string")) % 100 < rate)
          .cast("long").as("kept"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("kept").as("n_kept"),
        first("rate").cast("long").as("rate_pct"))
      .orderBy("source")
  }

  /** Unigram LOG-PROBABILITY scoring — the KenLM-style quality proxy
    * (per-doc likelihood under the corpus's own unigram distribution):
    * word-salad and boilerplate score high, rare-token noise scores
    * low — the perplexity-filter member of the quality family, next to
    * the rule-based [[quality]] and [[gopherRules]].
    *
    * Cross-engine float discipline: each word's ln(p) is rounded to 6
    * decimals FIRST (both engines' `ln` agree far below 1e-6), then the
    * per-doc sum runs in DECIMAL(28,10) — order-independent and exact —
    * so the result is engine-identical regardless of partitioning; the
    * avg divides two already-identical numbers. (A raw double sum would
    * be partition-order-dependent.)
    *
    * Scale: word frequencies are one combiner-friendly count shuffle;
    * the corpus total is a broadcast 1-row frame; per-doc aggregation
    * reuses the (doc, word) rows. Nothing carries text but the words
    * themselves. */
  def unigramLogProb(docs: DataFrame): DataFrame = {
    val words = docs.select(col("doc_id"),
      explode(filter(split(col("text"), " "), w => w =!= "")).as("w"))
    val lp = words.groupBy("w").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(words.agg(count(lit(1)).as("n_total"))))
      .select(col("w"), round(log(col("cnt") / col("n_total")), 6).as("lp"))
    words.join(lp, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(col("lp").cast(DecimalType(28, 10))).cast(DoubleType).as("sum_lp"))
      .select(col("doc_id"), col("n_words"), col("sum_lp"),
        round(col("sum_lp") / col("n_words"), 4).as("avg_lp"))
      .orderBy("doc_id")
  }

  /** PERPLEXITY BUCKETING (`text_ppl_bucket`) — the CCNet corpus-curation
    * move (Wenzek et al. 2020): score every document with a language
    * model, split each language into head/middle/tail terciles by score,
    * train preferentially on the head. Scores are [[unigramLogProb]]'s
    * per-doc `avg_lp` (already engine-exact at 4dp); buckets cut at
    * SCORE granularity — every doc sharing a (lang, avg_lp) lands in the
    * same tercile, boundary = floor(3·docs_with_better_score / n_lang).
    *
    * Scale shape: the only window runs over the DISTINCT (lang, avg_lp)
    * table — bounded by score resolution (4dp log-probs), not corpus
    * size — and doc-level work is a hash join against that small frame.
    * The ntile-per-lang formulation would sort EVERY doc of a language
    * inside one window task (languages are few and huge at 100 TB — the
    * worst possible partition key); score-granular cuts need no per-doc
    * ordering at all, and ties need no doc_id tie-break because equal
    * scores share a bucket by construction. */
  def pplBuckets(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perDoc = unigramLogProb(docs)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
    val dist = perDoc.groupBy("lang", "avg_lp").agg(count(lit(1)).as("n_s"))
    val w = Window.partitionBy("lang").orderBy(col("avg_lp").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cut = dist
      .withColumn("cum_before", coalesce(sum(col("n_s")).over(w), lit(0L)))
      .join(perDoc.groupBy("lang").agg(count(lit(1)).as("n_lang")), "lang")
      .select(col("lang"), col("avg_lp"),
        (expr("(3 * cum_before) div n_lang") + 1).as("bucket"))
    perDoc.join(cut, Seq("lang", "avg_lp"))
      .select(col("doc_id"), col("lang"), col("avg_lp"), col("bucket"),
        when(col("bucket") === 1, "head").when(col("bucket") === 2, "middle")
          .otherwise("tail").as("label"))
      .orderBy("doc_id")
  }

  val PrIters = 3           // TextRank: fixed PageRank epochs

  /** TEXTRANK (`text_textrank`) — PageRank over the word co-occurrence
    * graph (Mihalcea & Tarau 2004), the graph-analytics member of the
    * text family: nodes = words, directed edges = adjacent-word bigrams
    * weighted by count, rank r ← 0.15 + 0.85·Σ_in r(u)·w(u→v)/out(u),
    * [[PrIters]] fixed epochs from the uniform start. High-rank words
    * are the corpus's structural keywords.
    *
    * Float discipline (the [[bigramLogProb]] rules, extended to an
    * ITERATIVE fixpoint): every per-edge contribution rounds at 10dp
    * (one multiply-divide chain — identical IEEE754 ops both engines),
    * per-node in-sums run in exact DECIMAL(28,10), each epoch's rank
    * re-rounds at 10dp — so the oracle's unrolled-epoch SQL reproduces
    * the ENTIRE trajectory bit-exactly; dangling-node mass is dropped
    * (simplified PageRank), identically on both sides.
    *
    * Scale shape: the classic iterative join-agg graph pattern
    * ([[Dedup.connectedComponents]]'s family) — per epoch ONE hash join
    * of the edge list against the (word, rank) frame + one
    * combiner-friendly in-sum shuffle; edges/nodes are pinned once
    * and freed once the ranks are; the fixed epochs run through
    * [[graft.Pin.rounds]], so lineage stays bounded. Vocabulary is
    * the node set — Zipf-bounded, orders of magnitude below corpus
    * size. */
  def textRank(docs: DataFrame): DataFrame = {
    val ws = filter(split(col("text"), " "), w => w =!= "")
    val n1 = greatest(size(ws) - 1, lit(0))
    val pairs = docs.select(
        explode(zip_with(slice(ws, lit(1), n1), slice(ws, lit(2), n1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val edges = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("wgt")).pinned
    val out = edges.groupBy("w1").agg(sum("wgt").as("out_w"))
    val nodes = edges.select(col("w1").as("word"))
      .union(edges.select(col("w2").as("word"))).distinct().pinned
    val rank0 = nodes.crossJoin(broadcast(nodes.agg(count(lit(1)).as("n_nodes"))))
      .select(col("word"), round(lit(1.0) / col("n_nodes"), 10).as("rank"))
    val res = Pin.rounds("text_textrank", rank0, PrIters) { (rank, _) =>
      val contrib = edges.join(out, "w1")
        .join(rank.withColumnRenamed("word", "w1"), "w1")
        .select(col("w2").as("word"),
          round(col("rank") * col("wgt") / col("out_w"), 10).as("c"))
      val inSum = contrib.groupBy("word")
        .agg(sum(col("c").cast(DecimalType(28, 10))).cast(DoubleType).as("in_sum"))
      nodes.join(inSum, Seq("word"), "left")
        .select(col("word"),
          round(lit(0.15) + lit(0.85) * coalesce(col("in_sum"), lit(0.0)), 10)
            .as("rank"))
    }(_.orderBy("word"))
    Seq(edges, nodes).foreach(graft.Cleanup.freeCheckpoint)
    res
  }

  val LmTrainPct = 80       // bigram LM: train split percentage
  val BackoffAlpha = 0.4    // Stupid Backoff discount (Brants et al. 2007)

  /** Bigram LANGUAGE-MODEL scoring with STUPID BACKOFF — the next
    * statistical step up from [[unigramLogProb]], and the first member
    * of the quality family with a real TRAIN/EVAL split: the LM trains
    * on a deterministic md5 slice of the corpus ([[LmTrainPct]]%,
    * membership depends only on doc_id) and scores the held-out rest,
    * so eval bigrams genuinely can be UNSEEN and the backoff path is
    * exercised, not dead code. Score per eval bigram (w1, w2):
    * ln(n_bi/n_w1) when the bigram was seen in train, else
    * ln(α·n_uni(w2)/N) backing off to the train unigram (OOV words get
    * a half count) — Stupid Backoff, the LM-scoring scheme built for
    * MapReduce-scale corpora precisely because it needs only raw counts.
    *
    * Float discipline as [[unigramLogProb]]: each bigram's lp rounds at
    * 6dp first (single division / single multiply-divide chain, same
    * order both engines), the per-doc sum runs in exact DECIMAL.
    *
    * Scale: train counts are two combiner-friendly count shuffles
    * (unigram + bigram vocabulary); eval bigrams join the count tables
    * on word keys — skinny (doc_id, w1, w2) triples ride the shuffles,
    * text never does; the train-total is a broadcast 1-row frame. */
  def bigramLogProb(docs: DataFrame): DataFrame = {
    val ws = filter(split(col("text"), " "), w => w =!= "")
    val isTrain = Dedup.h32(lit("lm"), col("doc_id").cast("string")) % 100 < LmTrainPct
    val n1 = greatest(size(ws) - 1, lit(0))
    def bigrams(df: DataFrame) = df.select(col("doc_id"),
        explode(zip_with(slice(ws, lit(1), n1), slice(ws, lit(2), n1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val train = docs.where(isTrain)
    val trainTok = train.select(explode(ws).as("w"))
    val uni = trainTok.groupBy("w").agg(count(lit(1)).as("n_uni"))
    val bi = bigrams(train).groupBy("w1", "w2").agg(count(lit(1)).as("n_bi"))
    val scored = bigrams(docs.where(!isTrain))
      .join(bi, Seq("w1", "w2"), "left")
      .join(uni.select(col("w").as("w1"), col("n_uni").as("n_w1")), Seq("w1"), "left")
      .join(uni.select(col("w").as("w2"), col("n_uni").as("n_w2")), Seq("w2"), "left")
      .crossJoin(broadcast(trainTok.agg(count(lit(1)).as("n_tot"))
        // fail LOUDLY if the md5 split left the train slice empty (tiny
        // corpus): n_tot=0 would make every backoff lp NULL here while
        // DuckDB's double division yields -inf — a silent engine
        // divergence instead of an error
        .select(when(col("n_tot") > 0, col("n_tot"))
          .otherwise(raise_error(lit(
            "bigramLogProb: empty train split — corpus below the LmTrainPct minimum")))
          .as("n_tot"))))
      .select(col("doc_id"),
        when(col("n_bi").isNotNull, round(log(col("n_bi") / col("n_w1")), 6))
          .otherwise(round(log(
            lit(BackoffAlpha) * coalesce(col("n_w2"), lit(0.5)) / col("n_tot")), 6))
          .as("lp"))
    scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("lp").cast(DecimalType(28, 10))).cast(DoubleType).as("sum_lp"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_lp"),
        round(col("sum_lp") / col("n_bigrams"), 4).as("avg_lp"))
      .orderBy("doc_id")
  }

  val ClfBuckets = 4096

  /** Quality-filter threshold — canonical here (TrainingPipeline
    * re-exports it) so [[trainClassifier]]'s oracle can reference it
    * without a TextAnalysis↔TrainingPipeline object-init cycle. */
  val QualityMin = 0.55

  /** DISTRIBUTED CLASSIFIER TRAINING (`text_train`) — the stage
    * [[classify]]'s scaladoc leaves open ("standing in for a trained
    * model"): DISTILL the rule-based quality filter into a hashed
    * linear model, the fastText/DCLM pipeline pattern (train a cheap
    * model on seed labels, deploy it where the rules are too slow or
    * too brittle). Labels are the corpus's own quality rule
    * (y = ±1 at [[QualityMin]] — the exact arithmetic the pipeline
    * stages already gate); features are [[ClfBuckets]]-hashed
    * bag-of-words counts (the same h32 bucketing [[classify]] serves).
    *
    * Training is BATCH PERCEPTRON, [[TrainIters]] fixed epochs, lr=1:
    * w ← w + Σ_misclassified y·x. Chosen over logistic regression
    * deliberately: every quantity (counts, scores, updates) is exact
    * INTEGER arithmetic — no sigmoid, no learning-rate floats — so the
    * final weight table is bit-identical in both engines and the gate
    * hash-checks THE ENTIRE TRAINING TRAJECTORY (any divergence in any
    * epoch's misclassified set changes some weight).
    *
    * Scale shape: per epoch, ONE broadcast of the ≤[[ClfBuckets]]-row
    * weight table + a doc-keyed score aggregation + a bucket-keyed
    * update aggregation — both combiner-friendly; the corpus is scanned
    * once into the persisted (doc, bucket, cnt) feature frame and never
    * re-tokenized; epochs run through [[graft.Pin.rounds]], and the
    * feature and label caches are freed once the weights are pinned.
    * This is the map-reduce ML-training pattern (parameter broadcast +
    * gradient aggregation) the reference's fixed-reducer topology
    * cannot express. */
  val TrainIters = 3

  def trainClassifier(docs: DataFrame): DataFrame = {
    val labels = docs.select(col("doc_id"),
      when(qualityScoreCol >= QualityMin, lit(1L)).otherwise(lit(-1L)).as("y"))
    trainPerceptron(docs, labels)
  }

  /** The perceptron loop over explicit (doc_id, y=±1) labels —
    * spec-runnable on synthetic separable corpora. */
  private[graft] def trainPerceptron(docs: DataFrame, labels0: DataFrame): DataFrame = {
    val words = docs.select(col("doc_id"),
      explode(filter(split(col("text"), " "), w => w =!= "")).as("w"))
    val wb = words.select("w").distinct()
      .select(col("w"), (Dedup.h32(lit("clf"), col("w")) % ClfBuckets).as("bucket"))
    val feats = words.join(wb, "w")
      .groupBy("doc_id", "bucket").agg(count(lit(1)).as("cnt")).persist()
    val labels = labels0.persist()
    // epoch 1 from w=0: every doc is misclassified (y·0 ≤ 0), so the
    // first update is the full label-weighted feature sum — and every
    // bucket present in feats enters the weight table here (later
    // epochs' deltas are subsets, so the left join below never drops).
    // Pinned like every later epoch: `w` is referenced twice per epoch
    // (the broadcast score pass + the update's left side), and the
    // pin is a localCheckpoint of ≤ClfBuckets rows.
    val w1 = feats.join(labels, "doc_id")
      .groupBy("bucket").agg(sum(col("y") * col("cnt")).as("wt"))
      .pinned
    val res = Pin.rounds("text_train", w1, TrainIters - 1) { (w, _) =>
      val scores = feats.join(broadcast(w), "bucket")
        .groupBy("doc_id").agg(sum(col("cnt") * col("wt")).as("score"))
      val mis = labels.join(scores, Seq("doc_id"), "left")
        .where(col("y") * coalesce(col("score"), lit(0L)) <= 0)
        .select("doc_id", "y")
      val delta = feats.join(mis, "doc_id")
        .groupBy("bucket").agg(sum(col("y") * col("cnt")).as("dw"))
      w.join(delta, Seq("bucket"), "left")
        .select(col("bucket"), (col("wt") + coalesce(col("dw"), lit(0L))).as("wt"))
    } {
      _.where(col("wt") =!= 0)
        .select(col("bucket"), col("wt").as("weight"))
        .orderBy("bucket")
    }
    Seq(feats, labels).foreach(_.unpersist(false))
    res
  }

  /** Hashed-BAG-OF-WORDS linear classifier INFERENCE — the fastText /
    * DCLM-style model-based quality filter (the learned member of the
    * quality family, next to rule-based [[gopherRules]] and statistical
    * [[unigramLogProb]]): each token hashes into one of [[ClfBuckets]]
    * feature buckets, the model is a fixed weight per bucket, and the
    * doc's score is the integer sum of its tokens' weights (milli-units,
    * so the whole inference is exact integer arithmetic), with
    * `label = score > 0` and a per-token margin.
    *
    * The weight table here derives deterministically from md5 (bucket b
    * → h32("wgt", b) % 2001 − 1000 ∈ [−1000, 1000]) — standing in for a
    * trained-model weights file, which at scale ships exactly the same
    * way: a [[ClfBuckets]]-row broadcast frame. Swapping in real weights
    * changes no operator shape.
    *
    * Scale (the Zipf trick, as [[graft.functions.Bpe]]): weights are
    * computed once per DISTINCT word (corpus vocabulary), then
    * occurrences hash-join the tiny (w, wt) frame and aggregate per doc
    * — two combiner-friendly shuffles, no per-occurrence hashing. */
  def classify(docs: DataFrame): DataFrame = {
    val words = docs.select(col("doc_id"),
      explode(filter(split(col("text"), " "), w => w =!= "")).as("w"))
    val wt = words.select("w").distinct()
      .select(col("w"),
        (Dedup.h32(lit("wgt"), (Dedup.h32(lit("clf"), col("w")) % ClfBuckets)
          .cast("string")) % 2001 - 1000).as("wt"))
    words.join(wt, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("wt").as("score"))
      .select(col("doc_id"), col("n_tokens"), col("score"),
        (col("score") > 0).cast("long").as("label"),
        floor(col("score") * lit(1000.0) / col("n_tokens")).cast("long").as("score_pt"))
      .orderBy("doc_id")
  }

  /** DSIR feature-hash width. The paper uses 10k buckets on web-scale
    * corpora; 512 keeps per-bucket counts non-degenerate at test sf
    * while the operator shape is width-independent (the bucket table is
    * a broadcast frame either way). */
  val DsirBuckets = 512
  /** Selected-set size (the paper's resampling budget). */
  val DsirK = 50
  /** The target distribution: English docs — the "formal text" stand-in
    * (any predicate over the metadata works; selection quality, not
    * operator shape, is what changes). */
  val DsirTargetLang = "en"

  /** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
    * NeurIPS; public): select pretraining data that LOOKS LIKE a target
    * corpus by importance weight under two hashed n-gram bag models.
    * Features are unigrams ∪ bigrams hashed into [[DsirBuckets]]
    * buckets; the target model is the bucket distribution over
    * lang=[[DsirTargetLang]] docs, the source model over the full raw
    * corpus (both add-1 smoothed); a doc's log importance weight is
    * Σ_b c_b(x)·(log p_target[b] − log p_source[b]), and the [[DsirK]]
    * highest-weight docs are the selected set (the paper resamples with
    * Gumbel noise; selection here is the deterministic top-K — noise
    * would un-gate the key, and the weights ARE the operator).
    *
    * Exactness: the per-bucket log-ratio quantizes ONCE to integer
    * 1e-8 units (one ln over a double ratio both engines build from the
    * same integers, round-half-away — the established rounding match),
    * after which everything is BIGINT: per-doc weights are exact integer
    * sums (`logw_e8`), order-free and overflow-safe to ~9e18 (corpus
    * gram counts ~1e12 × lpd ~1e9 stays inside at any plausible sf).
    *
    * Scale: the Zipf trick (hash per DISTINCT gram, occurrences join
    * the skinny map); ONE combined count aggregate serves both models
    * (source count + conditional target count per bucket — no second
    * corpus pass); the 512-row log-ratio table broadcasts; the per-doc
    * weight is a combiner-friendly sum; top-K is TakeOrdered, never a
    * global sort. The gram frame persists across its two consumers
    * (totals + per-doc) and releases via [[graft.Cleanup.releaseAll]]. */
  def dsir(docs: DataFrame): DataFrame = {
    val b = DsirBuckets
    val withWs = docs.select(col("doc_id"), col("lang"),
      filter(split(col("text"), " "), w => w =!= "").as("ws"))
    val n1 = greatest(size(col("ws")) - 1, lit(0))
    val grams = withWs.select(col("doc_id"), col("lang"),
      explode(concat(col("ws"),
        zip_with(slice(col("ws"), lit(1), n1), slice(col("ws"), lit(2), n1),
          (x, y) => concat(x, lit(" "), y)))).as("g"))
    val gb = grams.select("g").distinct()
      .select(col("g"), (Dedup.h32(lit("dsir"), col("g")) % b).as("bucket"))
    val bg = grams.join(gb, "g").select("doc_id", "lang", "bucket").persist()
    val isTgt = when(col("lang") === DsirTargetLang, 1L).otherwise(0L)
    val tot = bg.agg(count(lit(1)).as("ts_n"), sum(isTgt).as("tt_n"))
    val lpd = bg.groupBy("bucket")
      .agg(count(lit(1)).as("cs"), sum(isTgt).as("ct"))
      .crossJoin(broadcast(tot))
      .select(col("bucket"),
        round(log(((col("ct") + 1).cast("double") * (col("ts_n") + b)) /
            ((col("cs") + 1).cast("double") * (col("tt_n") + b))) * 1e8, 0)
          .cast("long").as("lpd8"))
    bg.groupBy("doc_id", "bucket").agg(count(lit(1)).as("cnt"))
      .join(broadcast(lpd), "bucket")
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_grams"), sum(col("cnt") * col("lpd8")).as("logw_e8"))
      .orderBy(col("logw_e8").desc, col("doc_id"))
      .limit(DsirK)
  }

  /** Collocation support floor: bigrams seen fewer times carry no
    * statistical signal (a 1-count bigram between two rare words has
    * enormous lift by construction). */
  val CollocMinCount = 5
  val CollocTop = 30

  /** COLLOCATION EXTRACTION by lift (`text_colloc`, r10) — the classic
    * corpus-linguistics operator (Church & Hanks 1990 word-association
    * norms): rank adjacent word pairs by how much more often they
    * co-occur than independence predicts, lift = p(w1,w2) /
    * (p(w1)·p(w2)) = c12·N_uni² / (c1·c2·N_big) — the exponential of
    * PMI, monotone-identical to it, so ranking by lift IS ranking by
    * PMI with ZERO transcendental calls: every input is an exact
    * integer count, and the one float is a fixed parenthesization of
    * int→double conversions, three multiplies and one divide — each
    * IEEE-754 correctly rounded, so both engines produce bit-identical
    * doubles (no `ln` whose last-ulp behavior the gate would have to
    * trust, the `mm_embed` cosine discipline applied to association
    * scoring). Support floor [[CollocMinCount]] applied BEFORE the
    * joins; top-[[CollocTop]] by (lift desc, w1, w2) — a total order.
    *
    * Scale: unigram and bigram count tables are vocabulary-sized and
    * combiner-friendly; the two count totals are 1-row broadcasts; the
    * c1/c2 attachment is two vocab-keyed hash joins on the
    * ALREADY-floored bigram table; top-K is a TakeOrdered. Nothing in
    * the plan is corpus-row-sized past the two counting shuffles. */
  def collocations(docs: DataFrame): DataFrame = {
    val withWs = docs.select(filter(split(col("text"), " "), w => w =!= "").as("ws"))
    val n1 = greatest(size(col("ws")) - 1, lit(0))
    val uni = withWs.select(explode(col("ws")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val big = withWs.select(explode(zip_with(
        slice(col("ws"), lit(1), n1), slice(col("ws"), lit(2), n1),
        (x, y) => struct(x.as("w1"), y.as("w2")))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val nu = uni.agg(sum("c").as("nu"))
    val nb = big.agg(sum("c12").as("nb"))
    big.where(col("c12") >= CollocMinCount)
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(nu)).crossJoin(broadcast(nb))
      // fixed parenthesization, mirrored verbatim in the oracle:
      // ((c12·nu)·nu) / ((c1·c2)·nb)
      .select(col("w1"), col("w2"), col("c12"),
        (col("c12").cast("double") * col("nu").cast("double") * col("nu").cast("double") /
          ((col("c1").cast("double") * col("c2").cast("double")) * col("nb").cast("double")))
          .as("lift"))
      .orderBy(col("lift").desc, col("w1"), col("w2"))
      .limit(CollocTop)
  }

  /** Sliding-window CHUNKING with overlap — the context-window prep step
    * that turns long documents into model-sized pieces (the counterpart
    * of [[packing]]'s concatenate-and-cut: packing joins short docs,
    * chunking splits long ones). Windows of [[ChunkLen]] tokens advance
    * by [[ChunkStride]] (16-token overlap preserves cross-boundary
    * context); the final window is allowed to be short. Emits one row
    * per chunk with its token range and the md5 of the chunk text, so
    * the gate compares every chunk's exact content without shipping it.
    *
    * Scale: map-only — chunk counts and offsets are integer arithmetic
    * on the token array, the explode fans out rows within the scan
    * partition, and nothing shuffles but the final deterministic sort.
    * Fan-out is bounded: ≤ n_tokens/[[ChunkStride]] + 1 chunks per doc. */
  val ChunkLen = 64
  val ChunkStride = 48
  def chunk(docs: DataFrame): DataFrame = {
    wsOf(docs).where(size(col("ws")) > 0)
      .withColumn("n_tokens", size(col("ws")).cast("long"))
      // integer ceil (`div`, not `/` — Column `/` is double division):
      // 1 + ceil(max(n-len,0) / stride) chunks
      .withColumn("n_chunks", expr(
        s"1 + (greatest(n_tokens - $ChunkLen, 0L) + ${ChunkStride - 1}) div $ChunkStride"))
      .select(col("doc_id"), col("ws"), col("n_tokens"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_idx"))
      .withColumn("tok_start", col("chunk_idx") * ChunkStride)
      .withColumn("tok_len", least(lit(ChunkLen.toLong), col("n_tokens") - col("tok_start")))
      .select(col("doc_id"), col("chunk_idx"), col("tok_start"), col("tok_len"),
        md5(concat_ws(" ",
          slice(col("ws"), (col("tok_start") + 1).cast("int"), col("tok_len").cast("int"))))
          .as("chunk_hash"))
      .orderBy("doc_id", "chunk_idx")
  }

  type Q = (SparkSession, String) => DataFrame
  /** WORD-DISTRIBUTION ENTROPY (`text_entropy`) — the information-
    * theoretic quality signal real corpus filters run next to the
    * rule-based (`text_quality`/`text_gopher`) and model-based
    * (`text_unigram`/`text_classify`) members: per doc, the Shannon
    * entropy of its word distribution H = −Σ p·ln p and the normalized
    * H/ln(V) ∈ [0,1] — a boilerplate/keyword-stuffed doc scores low,
    * natural prose high. Float discipline ([[unigramScore]]'s): each
    * −p·ln p term rounds at 6dp FIRST, the per-doc sum runs in exact
    * DECIMAL — order/partitioning-independent, engine-identical.
    *
    * Scale: one (doc, word) combiner count shuffle; the doc-total
    * window partitions by doc_id over the per-doc VOCABULARY (bounded
    * by doc length, never corpus-wide); one doc-keyed aggregate on the
    * same partitioning. */
  def entropy(docs: DataFrame): DataFrame = {
    val wd = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    val tw = docs.select(col("doc_id"), explode(wordsCol).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val p = col("tf") * lit(1.0) / col("n")
    tw.withColumn("n", sum("tf").over(wd))
      .groupBy("doc_id")
      .agg(max("n").cast("long").as("n_tokens"), count(lit(1)).as("n_distinct"),
        sum(round(-p * log(p), 6).cast(DecimalType(28, 10)))
          .cast(DoubleType).as("entropy"))
      .withColumn("norm_entropy",
        when(col("n_distinct") > 1,
          round(col("entropy") / log(col("n_distinct").cast(DoubleType)), 6))
          .otherwise(0.0))
      .orderBy("doc_id")
  }

  /** Kneser-Ney absolute discount (the standard 0.75). */
  val KnDiscount = 0.75
  val KnTop = 100

  /** INTERPOLATED KNESER-NEY bigram probabilities (`text_kn`) — the
    * NLP-standard LM smoothing (Kneser & Ney 1995; Chen & Goodman 1998)
    * next to [[bigramLogProb]]'s Stupid Backoff: for the top-[[KnTop]]
    * corpus bigrams,
    * P_KN(w2|w1) = max(c(w1,w2)−D, 0)/c(w1·) + λ(w1)·P_cont(w2) with
    * λ(w1) = D·N1+(w1·)/c(w1·) and P_cont(w2) = N1+(·w2)/|bigram types|
    * — the CONTINUATION probability that fixes the "San Francisco"
    * pathology (a word frequent only inside one collocation gets a low
    * unigram-replacement weight because it follows few distinct
    * contexts, where raw-frequency backoff would overweight it).
    *
    * Cross-engine determinism: every statistic (c, c(w1·), N1+(w1·),
    * N1+(·w2), type count) is an exact integer; the probability is ONE
    * per-row pinned float chain
    * `greatest(n−D, 0)/c1 + (D·n1f/c1)·(n1p/types)` rounded at 6dp —
    * no float ever enters an aggregation.
    *
    * Scale: ONE combiner count shuffle to the distinct-bigram table,
    * which persists and serves everything else — context stats and
    * continuation stats are vocabulary-bounded aggregates OVER it, the
    * type count is a 1-row frame, and all joins happen AFTER the
    * top-[[KnTop]] cut (a 100-row probe side, broadcast by AQE). The
    * corpus is tokenized exactly once; nothing downstream is
    * event-volume-sized. */
  def knBigram(docs: DataFrame): DataFrame = {
    val ws = filter(split(col("text"), " "), w => w =!= "")
    val n1 = greatest(size(ws) - 1, lit(0))
    val bi = docs.select(explode(zip_with(
        slice(ws, lit(1), n1), slice(ws, lit(2), n1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n"))
      .persist()
    val ctx = bi.groupBy("w1")
      .agg(sum("n").cast("long").as("c1"), count(lit(1)).as("n1f"))
    val pred = bi.groupBy("w2").agg(count(lit(1)).as("n1p"))
    val types = bi.agg(count(lit(1)).as("types"))
    val top = bi.orderBy(col("n").desc, col("w1"), col("w2")).limit(KnTop)
    top.join(ctx, "w1").join(pred, "w2").crossJoin(broadcast(types))
      .select(col("w1"), col("w2"), col("n"),
        round(
          greatest(col("n") - lit(KnDiscount), lit(0.0)) / col("c1") +
            (lit(KnDiscount) * col("n1f") / col("c1")) *
              (col("n1p") / col("types")), 6).as("pkn"))
      .orderBy(col("n").desc, col("w1"), col("w2"))
  }

  /** TRAIN-THEN-SERVE (`pipe_train`) — the DCLM/fastText loop closed
    * end to end: [[trainClassifier]]'s perceptron weights (distilled
    * from the corpus's own quality rule) score the SAME corpus, and
    * the readout is per-language keep rates in exact integer ppm —
    * the number a curation run actually publishes ("this filter keeps
    * 34% of English, 12% of Chinese"). Training AND serving share one
    * gate: any divergence anywhere in the training trajectory moves
    * some doc's score across zero and shifts a keep count.
    *
    * Scale: training as [[trainPerceptron]] (per-epoch ≤4096-row
    * weight broadcast + two combiner aggregations); serving is ONE
    * feature join against the broadcast weight table + a
    * language-bounded aggregate — the inference pass is exactly
    * [[classify]]'s shape with learned weights. */
  def trainServe(docs: DataFrame): DataFrame = {
    val w = trainClassifier(docs)
    val words = docs.select(col("doc_id"),
      explode(filter(split(col("text"), " "), x => x =!= "")).as("w"))
    val wb = words.select("w").distinct()
      .select(col("w"), (Dedup.h32(lit("clf"), col("w")) % ClfBuckets).as("bucket"))
    val feats = words.join(wb, "w")
      .groupBy("doc_id", "bucket").agg(count(lit(1)).as("cnt"))
    val scores = feats.join(broadcast(w), "bucket")
      .groupBy("doc_id").agg(sum(col("cnt") * col("weight")).as("score"))
    // keep = ABOVE-MEAN learned score (the budget-curation cut: "keep
    // the above-average half by the trained scorer") — a sign cut
    // degenerates to keep-everything on this corpus because the
    // quality labels are almost all positive. The mean test is
    // division-free exact integers: score·n > Σscores (products fit
    // BIGINT here; a corpus past 2⁶³ switches both engines to the
    // DECIMAL product, the ev_anomaly note).
    val scored = docs.select(col("doc_id"), col("lang"))
      .join(scores, Seq("doc_id"), "left")
      .select(col("lang"), coalesce(col("score"), lit(0L)).as("score"))
    val tot = scored.agg(count(lit(1)).as("n_tot"), sum("score").as("s_tot"))
    scored.crossJoin(broadcast(tot))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum((col("score") * col("n_tot") > col("s_tot")).cast("long")).as("n_keep"))
      .select(col("lang"), col("n_docs"), col("n_keep"),
        expr("n_keep * 1000000 div n_docs").as("keep_ppm"))
      .orderBy("lang")
  }

  val WSampleK = 50

  /** WEIGHTED SAMPLING WITHOUT REPLACEMENT (`text_wsample`) —
    * Efraimidis & Spirakis 2006, the distributed weighted reservoir:
    * every doc draws a deterministic md5-uniform u ∈ (0,1] and gets
    * priority ln(u)/w (w = n_chars); the top-[[WSampleK]] priorities
    * ARE an exact weight-proportional sample without replacement (the
    * ES theorem — u^(1/w) order statistics, in log form). This is how
    * a training-data pipeline samples documents ∝ quality/length
    * across a cluster with NO coordination: priorities are map-only,
    * selection is one distributed top-k.
    *
    * Determinism: u derives from md5(doc_id) (+1 so u > 0, /2³² so
    * u ≤ 1); both engines evaluate the same `ln((h+1)/2³²)/w` double
    * chain on the same integers, and the priority ROUNDS to 12dp
    * before the ordering (r9): JVM Math.log and libm log are each
    * ulp-accurate but not bit-identical, so a raw-double near-tie at
    * the top-k boundary could flip between engines — the repo's
    * round-before-compare float discipline applies to ORDER keys too.
    * Post-round ties (none at 12dp in practice) break on doc_id; the
    * gate hashes (rank, doc_id) only — no float in the output.
    *
    * Scale: map-only priority + TakeOrdered top-k (distributed partial
    * top-k, no global sort); k rows reach the driver. */
  def weightedSample(docs: DataFrame): DataFrame = {
    val h = conv(substring(md5(concat(lit("ws:"), col("doc_id").cast("string"))), 1, 8),
      16, 10).cast("long")
    val u = (h + lit(1L)).cast("double") / lit(4294967296.0)
    // TakeOrdered cuts to k rows FIRST (distributed partial top-k); the
    // rank window then runs over the ≤k-row LIMIT frame — the
    // ann_hybrid bounded-cardinality shape, never a corpus-sized
    // global window
    docs.where(col("n_chars") > 0)
      .select(col("doc_id"), round(log(u) / col("n_chars").cast("double"), 12).as("prio"))
      .orderBy(col("prio").desc, col("doc_id")).limit(WSampleK)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("prio").desc, col("doc_id"))).cast("long"))
      .select(col("rank"), col("doc_id"))
      .orderBy("rank")
  }

  val queries: Map[String, Q] = Map(
    "text_wsample"     -> ((s, d) => weightedSample(Tables.documents(s, d))),
    "pipe_train"       -> ((s, d) => trainServe(Tables.documents(s, d))),
    "text_kn"          -> ((s, d) => knBigram(Tables.documents(s, d))),
    "text_normalize"   -> ((s, d) => normalize(Tables.documents(s, d))),
    "text_entropy"     -> ((s, d) => entropy(Tables.documents(s, d))),
    "text_pii"         -> ((s, d) => piiRedact(Tables.documents(s, d))),
    "text_train"       -> ((s, d) => trainClassifier(Tables.documents(s, d))),
    "text_langid"      -> ((s, d) => langId(Tables.documents(s, d))),
    "text_quality"     -> ((s, d) => quality(Tables.documents(s, d))),
    "text_tokencount"  -> ((s, d) => tokenCount(Tables.documents(s, d))),
    "text_fingerprint" -> ((s, d) => fingerprint(Tables.documents(s, d))),
    "text_cdc"         -> ((s, d) => cdcChunks(Tables.documents(s, d))),
    "text_winnow"      -> ((s, d) => winnow(Tables.documents(s, d))),
    "text_percentiles" -> ((s, d) => lengthPercentiles(Tables.documents(s, d))),
    "text_sample"      -> ((s, d) => hashSample(Tables.documents(s, d))),
    "text_tfidf"       -> ((s, d) => tfidf(Tables.documents(s, d))),
    "text_stratified"  -> ((s, d) => stratifiedSample(Tables.documents(s, d))),
    "text_gopher"      -> ((s, d) => gopherRules(Tables.documents(s, d))),
    "text_decontam"    -> ((s, d) => decontaminate(Tables.documents(s, d))),
    "text_pack"        -> ((s, d) => packing(Tables.documents(s, d))),
    "text_shard"       -> ((s, d) => sharding(Tables.documents(s, d))),
    "text_extract"     -> ((s, d) =>
      extractText(s.read.text(graft.sources.Sources.htmlCorpusDir(s, d)))),
    "text_linededup"   -> ((s, d) => lineDedup(Tables.documents(s, d))),
    "text_curriculum"  -> ((s, d) => curriculum(Tables.documents(s, d))),
    "text_chunks"      -> ((s, d) => chunk(Tables.documents(s, d))),
    "text_bpe"         -> ((s, d) => bpeTokens(Tables.documents(s, d))),
    "text_bpe_train"   -> ((s, d) => bpeTrain(Tables.documents(s, d))),
    "text_bpe_learned" -> ((s, d) => bpeLearnedTokens(Tables.documents(s, d))),
    "text_pack_bpe"    -> ((s, d) => bpePacking(Tables.documents(s, d))),
    "text_unigram"     -> ((s, d) => unigramLogProb(Tables.documents(s, d))),
    "text_ppl_bucket"  -> ((s, d) => pplBuckets(Tables.documents(s, d))),
    "text_textrank"    -> ((s, d) => textRank(Tables.documents(s, d))),
    "text_mix"         -> ((s, d) => domainMix(Tables.documents(s, d))),
    "text_classify"    -> ((s, d) => classify(Tables.documents(s, d))),
    "text_dsir"        -> ((s, d) => dsir(Tables.documents(s, d))),
    "text_bigram_lp"   -> ((s, d) => bigramLogProb(Tables.documents(s, d))),
    "text_colloc"      -> ((s, d) => collocations(Tables.documents(s, d))),
  )

  // words-array SQL fragment shared by the oracles
  private val W = WordCount.OracleWords

  /** Unigram-LM CTE chain (wd → lp → per-doc d), shared by the
    * text_unigram and text_ppl_bucket oracles — the LM arithmetic lives
    * in one SQL text. */
  private val UnigramCtes: String =
    """wd AS (
      |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
      |  FROM documents),
      |lp AS (
      |  SELECT w, round(ln(cnt / n_total), 6) AS lp
      |  FROM (SELECT w, count(*) AS cnt FROM wd GROUP BY w) f,
      |       (SELECT count(*) AS n_total FROM wd) t),
      |d AS (
      |  SELECT doc_id, count(*) AS n_words,
      |    CAST(SUM(CAST(lp AS DECIMAL(28,10))) AS DOUBLE) AS sum_lp
      |  FROM wd JOIN lp USING (w) GROUP BY doc_id)""".stripMargin

  /** text_quality's oracle, a val so [[oracle]]'s `text_train` entry can
    * reuse it as its label CTE (one SQL, both gates). */
  private lazy val QualitySql: String =
    s"""SELECT doc_id, n_chars, n_tokens, n_distinct, mean_wlen, stop_ratio,
       |  distinct_ratio,
       |  distinct_ratio * 0.5 + (1.0 - stop_ratio) * 0.3 +
       |    least(mean_wlen / 10.0, 1.0) * 0.2 AS quality
       |FROM (
       |  SELECT doc_id, n_chars, n_tokens, n_distinct,
       |    sum_wlen::DOUBLE / nullif(n_tokens, 0) AS mean_wlen,
       |    n_stop::DOUBLE / nullif(n_tokens, 0) AS stop_ratio,
       |    n_distinct::DOUBLE / nullif(n_tokens, 0) AS distinct_ratio
       |  FROM (
       |    SELECT doc_id, length(text)::BIGINT AS n_chars,
       |      len($W)::BIGINT AS n_tokens,
       |      len(list_distinct($W))::BIGINT AS n_distinct,
       |      coalesce(list_sum(list_transform($W, w -> length(w)::BIGINT)), 0)::BIGINT AS sum_wlen,
       |      ${nMarker(Seq("the", "a", "of", "and", "to", "in"))} AS n_stop
       |    FROM documents) b) t
       |ORDER BY doc_id""".stripMargin
  private def inList(items: Seq[String]) = items.map(s => s"'$s'").mkString("(", ",", ")")

  /** doc_ids of `tbl` passing the Gopher rules — the composable subquery
    * form pipeline oracles embed (internal CTE names carry the relation
    * suffix to avoid collisions). Matches [[gopherRules]]' pass flag:
    * the rule thresholds compare the RAW fractions, so no rounding is
    * involved. */
  def gopherPassSqlFor(tbl: String): String =
    s"""(WITH wz_$tbl AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM $tbl),
       |wcz_$tbl AS (SELECT doc_id, word, count(*) AS cnt
       |             FROM (SELECT doc_id, unnest(ws) AS word FROM wz_$tbl) t GROUP BY 1, 2),
       |az_$tbl AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_words,
       |              CAST(max(cnt) AS BIGINT) AS max_cnt,
       |              CAST(coalesce(sum(CASE WHEN word IN ${inList(GopherStops)} THEN cnt END), 0) AS BIGINT) AS stop_cnt
       |            FROM wcz_$tbl GROUP BY 1),
       |gz_$tbl AS (SELECT doc_id, array_to_string(ws[i:i+1], ' ') AS gram
       |            FROM wz_$tbl, LATERAL (SELECT unnest(generate_series(1, len(ws) - 1)) AS i) s),
       |gcz_$tbl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       |               CAST(count(DISTINCT gram) AS BIGINT) AS d_grams FROM gz_$tbl GROUP BY 1)
       |SELECT doc_id FROM az_$tbl LEFT JOIN gcz_$tbl USING (doc_id)
       |WHERE max_cnt::DOUBLE / n_words <= $GopherTopFracMax
       |  AND coalesce((n_grams - d_grams)::DOUBLE / nullif(n_grams, 0), 0) <= $GopherDupFracMax
       |  AND n_words >= $GopherMinWords AND stop_cnt >= 1)""".stripMargin

  /** Contaminated doc_ids of `tbl` against the benchmark slice of the
    * ORIGINAL documents table — mirrors [[contaminatedIds]]. */
  def contamSqlFor(tbl: String): String = {
    val k = DecontamN - 1
    s"""(WITH wd_$tbl AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM $tbl),
       |gd_$tbl AS (SELECT doc_id, array_to_string(ws[i:i+$k], ' ') AS g
       |            FROM wd_$tbl, LATERAL (SELECT unnest(generate_series(1, len(ws) - $k)) AS i) s),
       |gb_$tbl AS (SELECT DISTINCT array_to_string(ws[i:i+$k], ' ') AS g
       |            FROM (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS ws
       |                  FROM documents WHERE doc_id % $BenchMod = 0) b,
       |                 LATERAL (SELECT unnest(generate_series(1, len(ws) - $k)) AS i) s)
       |SELECT DISTINCT doc_id FROM gd_$tbl JOIN gb_$tbl USING (g)
       |WHERE doc_id % $BenchMod <> 0)""".stripMargin
  }
  private def nMarker(items: Seq[String]) =
    s"len(list_filter($W, w -> w IN ${inList(items)}))::BIGINT"

  // the same greedy longest-match loop as graft_bpe_ids, as a recursive
  // CTE: one step per emitted token per DISTINCT word; piece-length
  // guards keep each slot honest when fewer code points remain than the
  // slot width. Vocab VALUES generated from the one BpeImpl.Vocab
  // definition. Shared WITH-prefix for the bpe and bpe-packing oracles.
  private val BpeEncCtes: String =
    s"""WITH RECURSIVE vocab(piece, id) AS (VALUES ${graft.functions.BpeImpl.vocabValuesSql}),
       |wd AS (
       |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
       |  FROM documents),
       |dw AS (SELECT DISTINCT w FROM wd),
       |enc AS (
       |  SELECT w, 1 AS pos, CAST(0 AS BIGINT) AS n_sub,
       |    CAST(0 AS BIGINT) AS n_unk, CAST(0 AS BIGINT) AS cks
       |  FROM dw
       |  UNION ALL
       |  SELECT w, pos + adv, n_sub + 1,
       |    n_unk + CASE WHEN id0 = 0 THEN 1 ELSE 0 END,
       |    cks + (n_sub + 1) * id0
       |  FROM (
       |    SELECT w, pos, n_sub, n_unk, cks,
       |      coalesce(v4.id, v3.id, v2.id, v1.id, 0) AS id0,
       |      CASE WHEN v4.id IS NOT NULL THEN 4
       |           WHEN v3.id IS NOT NULL THEN 3
       |           WHEN v2.id IS NOT NULL THEN 2
       |           ELSE 1 END AS adv
       |    FROM enc
       |    LEFT JOIN vocab v4 ON length(v4.piece) = 4 AND v4.piece = substr(w, pos, 4)
       |    LEFT JOIN vocab v3 ON length(v3.piece) = 3 AND v3.piece = substr(w, pos, 3)
       |    LEFT JOIN vocab v2 ON length(v2.piece) = 2 AND v2.piece = substr(w, pos, 2)
       |    LEFT JOIN vocab v1 ON length(v1.piece) = 1 AND v1.piece = substr(w, pos, 1)
       |    WHERE pos <= length(w)) s),
       |fin AS (SELECT w, n_sub, n_unk, cks FROM enc WHERE pos > length(w))""".stripMargin

  /** The 8 BPE training rounds unrolled as CTE pairs (b_s = argmax
    * pair, v_s = merge applied by literal pipe-delimited replace):
    * same weighted pair counts, same (count desc, left, right) tie
    * pin, same leftmost non-overlapping merge semantics as
    * [[bpeTrainRounds]]. `word` rides the v_s tables untouched so the
    * learned-encode oracle can read the final segmentation per word —
    * shared by the `text_bpe_train` and `text_bpe_learned` oracles
    * (the two gates can never train different merge tables). */
  private lazy val BpeTrainCtes: String = {
    val tokSql = s"SELECT word, count(*) AS w_cnt FROM (${WordCount.TokensSql}) tk GROUP BY word"
    val rounds = (1 to BpeTrainMerges).map { s =>
      s"""b$s AS (
         |  SELECT $s::BIGINT AS step, a AS merge_left, b AS merge_right,
         |    CAST(cnt AS BIGINT) AS pair_count FROM (
         |    SELECT syms[i] AS a, syms[i + 1] AS b, sum(w_cnt) AS cnt FROM (
         |      SELECT w_cnt, string_split(trim(seq, '|'), '||') AS syms
         |      FROM v${s - 1}) t,
         |      unnest(range(1, len(syms))) AS u(i)
         |    GROUP BY 1, 2) p
         |  ORDER BY cnt DESC, a, b LIMIT 1),
         |v$s AS (
         |  SELECT word, w_cnt,
         |    CASE WHEN merge_left IS NULL THEN seq
         |         ELSE replace(seq, '|' || merge_left || '||' || merge_right || '|',
         |                           '|' || merge_left || merge_right || '|') END AS seq
         |  FROM v${s - 1} LEFT JOIN b$s ON true)""".stripMargin
    }.mkString(",\n")
    s"""v0 AS (
       |  SELECT word, w_cnt,
       |    '|' || array_to_string(list_transform(range(1, length(word) + 1),
       |      i -> substr(word, CAST(i AS INTEGER), 1)), '||') || '|' AS seq
       |  FROM ($tokSql) wc),
       |$rounds""".stripMargin
  }
  private lazy val BpeTrainMergesUnion: String =
    (1 to BpeTrainMerges).map(s => s"SELECT * FROM b$s").mkString(" UNION ALL ")

  /** Shared DuckDB CTE chain for the perceptron trajectory (quality
    * labels → hashed features → unrolled epochs) — used by both the
    * `text_train` weight gate and the `pipe_train` serve gate, so the
    * two can never train different models. */
  private lazy val TrainCtesSql: String = {
    val epoch = (t: Int) =>
      s"""s$t AS (SELECT doc_id, CAST(sum(cnt * wt) AS BIGINT) AS score
         |  FROM feats JOIN w${t - 1} USING (bucket) GROUP BY doc_id),
         |m$t AS (SELECT ql.doc_id, y FROM ql LEFT JOIN s$t USING (doc_id)
         |  WHERE y * coalesce(score, 0) <= 0),
         |d$t AS (SELECT bucket, CAST(sum(y * cnt) AS BIGINT) AS dw
         |  FROM feats JOIN m$t USING (doc_id) GROUP BY bucket),
         |w$t AS (SELECT bucket, wt + coalesce(dw, 0) AS wt
         |  FROM w${t - 1} LEFT JOIN d$t USING (bucket))""".stripMargin
    s"""ql AS (
       |  SELECT doc_id, CAST(CASE WHEN quality >= $QualityMin THEN 1 ELSE -1 END AS BIGINT) AS y
       |  FROM ($QualitySql) q),
       |wd AS (
       |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
       |  FROM documents),
       |wb AS (
       |  SELECT w, ('0x' || substr(md5('clf:' || w), 1, 8))::BIGINT % $ClfBuckets AS bucket
       |  FROM (SELECT DISTINCT w FROM wd) d),
       |feats AS (
       |  SELECT doc_id, bucket, count(*)::BIGINT AS cnt
       |  FROM wd JOIN wb USING (w) GROUP BY doc_id, bucket),
       |w1 AS (
       |  SELECT bucket, CAST(sum(y * cnt) AS BIGINT) AS wt
       |  FROM feats JOIN ql USING (doc_id) GROUP BY bucket),
       |${(2 to TrainIters).map(epoch).mkString(",\n")}""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    // same per-term 6dp round + exact decimal sum (the unigram float
    // discipline applied to −p·ln p)
    "text_entropy" ->
      s"""WITH tw AS (
         |  SELECT doc_id, w, count(*) AS tf FROM (
         |    SELECT doc_id, unnest($W) AS w FROM documents) t
         |  GROUP BY 1, 2),
         |tn AS (SELECT doc_id, tf, sum(tf) OVER (PARTITION BY doc_id) AS n FROM tw),
         |e AS (SELECT doc_id, CAST(max(n) AS BIGINT) AS n_tokens,
         |        count(*) AS n_distinct,
         |        CAST(sum(CAST(round(-(tf * 1.0 / n) * ln(tf * 1.0 / n), 6)
         |          AS DECIMAL(28,10))) AS DOUBLE) AS entropy
         |      FROM tn GROUP BY doc_id)
         |SELECT doc_id, n_tokens, n_distinct, entropy,
         |  CASE WHEN n_distinct > 1
         |       THEN round(entropy / ln(CAST(n_distinct AS DOUBLE)), 6)
         |       ELSE 0.0 END AS norm_entropy
         |FROM e ORDER BY doc_id""".stripMargin,
    "text_mix" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(CAST(('0x' || substr(md5('mix:' || doc_id::VARCHAR), 1, 8))::BIGINT % 100
        |        < 20 + 15 * (CAST(substr(source, 4) AS INT) % 5) AS BIGINT)) AS BIGINT) AS n_kept,
        |  CAST(20 + 15 * (CAST(substr(source, 4) AS INT) % 5) AS BIGINT) AS rate_pct
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // PageRank epochs unrolled (the text_train pattern): 10dp-rounded
    // per-edge contributions, DECIMAL in-sums, re-rounded ranks — the
    // exact trajectory of textRank's loop; ::DOUBLE casts keep DuckDB's
    // decimal literals out of the float arithmetic
    "text_textrank" -> {
      val epoch = (t: Int) =>
        s"""c$t AS (
           |  SELECT e.w2 AS word, round(r.rank * e.wgt / o.out_w, 10) AS c
           |  FROM edges e JOIN outw o USING (w1) JOIN r${t - 1} r ON r.word = e.w1),
           |s$t AS (
           |  SELECT word, CAST(SUM(CAST(c AS DECIMAL(28,10))) AS DOUBLE) AS in_sum
           |  FROM c$t GROUP BY word),
           |r$t AS (
           |  SELECT n.word,
           |    round(0.15::DOUBLE + 0.85::DOUBLE * coalesce(in_sum, 0.0), 10) AS rank
           |  FROM nodes n LEFT JOIN s$t USING (word))""".stripMargin
      s"""WITH dw AS (
         |  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS w
         |  FROM documents),
         |edges AS (
         |  SELECT w1, w2, count(*)::BIGINT AS wgt FROM (
         |    SELECT w[i] AS w1, w[i + 1] AS w2
         |    FROM dw, unnest(range(1, len(w))) AS u(i)) b
         |  GROUP BY w1, w2),
         |outw AS (SELECT w1, sum(wgt)::BIGINT AS out_w FROM edges GROUP BY w1),
         |nodes AS (SELECT DISTINCT word FROM
         |  (SELECT w1 AS word FROM edges UNION ALL SELECT w2 FROM edges) u),
         |r0 AS (
         |  SELECT word, round(1.0::DOUBLE / n_nodes, 10) AS rank
         |  FROM nodes, (SELECT count(*) AS n_nodes FROM nodes) nn),
         |${(1 to PrIters).map(epoch).mkString(",\n")}
         |SELECT word, rank FROM r$PrIters ORDER BY word""".stripMargin
    },
    // same integer statistics off one bigram-count CTE; the probability
    // is the identical pinned per-row float chain rounded at 6dp
    "text_kn" ->
      s"""WITH wsarr AS (
         |  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS w
         |  FROM documents),
         |bi AS (
         |  SELECT w1, w2, count(*) AS n FROM (
         |    SELECT w[i] AS w1, w[i + 1] AS w2
         |    FROM wsarr, unnest(range(1, len(w))) AS u(i)) b
         |  GROUP BY 1, 2),
         |ctx AS (SELECT w1, CAST(sum(n) AS BIGINT) AS c1, count(*) AS n1f
         |        FROM bi GROUP BY 1),
         |pred AS (SELECT w2, count(*) AS n1p FROM bi GROUP BY 1),
         |ty AS (SELECT count(*) AS types FROM bi),
         |top AS (SELECT w1, w2, n FROM bi ORDER BY n DESC, w1, w2 LIMIT $KnTop)
         |SELECT t.w1 AS w1, t.w2 AS w2, t.n AS n,
         |  round(greatest(t.n - $KnDiscount, 0.0) / c.c1
         |    + ($KnDiscount * c.n1f / c.c1) * (p.n1p / ty.types), 6) AS pkn
         |FROM top t JOIN ctx c ON c.w1 = t.w1 JOIN pred p ON p.w2 = t.w2, ty
         |ORDER BY n DESC, w1, w2""".stripMargin,
    "text_bigram_lp" ->
      s"""WITH tr AS (SELECT doc_id, text FROM documents
         |  WHERE ('0x' || substr(md5('lm:' || doc_id::VARCHAR), 1, 8))::BIGINT % 100 < $LmTrainPct),
         |trw AS (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS w FROM tr),
         |trt AS (SELECT unnest(w) AS w FROM trw),
         |uni AS (SELECT w, count(*) AS n_uni FROM trt GROUP BY w),
         |tot AS (SELECT count(*) AS n_tot FROM trt),
         |bi AS (
         |  SELECT w1, w2, count(*) AS n_bi FROM (
         |    SELECT w[i] AS w1, w[i + 1] AS w2
         |    FROM trw, unnest(range(1, len(w))) AS u(i)) b
         |  GROUP BY w1, w2),
         |evb AS (
         |  SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
         |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
         |        FROM documents
         |        WHERE ('0x' || substr(md5('lm:' || doc_id::VARCHAR), 1, 8))::BIGINT % 100 >= $LmTrainPct) e,
         |       unnest(range(1, len(w))) AS u(i)),
         |sc AS (
         |  SELECT doc_id,
         |    CASE WHEN n_bi IS NOT NULL THEN round(ln(n_bi / u1.n_uni), 6)
         |         ELSE round(ln($BackoffAlpha * coalesce(u2.n_uni, 0.5) / n_tot), 6) END AS lp
         |  FROM evb
         |  LEFT JOIN bi USING (w1, w2)
         |  LEFT JOIN uni u1 ON evb.w1 = u1.w
         |  LEFT JOIN uni u2 ON evb.w2 = u2.w, tot)
         |SELECT doc_id, count(*) AS n_bigrams,
         |  CAST(SUM(CAST(lp AS DECIMAL(28,10))) AS DOUBLE) AS sum_lp,
         |  round(CAST(SUM(CAST(lp AS DECIMAL(28,10))) AS DOUBLE) / count(*), 4) AS avg_lp
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // lift = exp(PMI): all-integer counts, one fixed-parenthesization
    // double expression — ((c12·nu)·nu)/((c1·c2)·nb), every step IEEE
    // correctly rounded, NO transcendental — mirrored verbatim
    "text_colloc" ->
      s"""WITH dw AS (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS ws
         |  FROM documents),
         |uni AS (SELECT w, count(*) AS c FROM (SELECT unnest(ws) AS w FROM dw) u GROUP BY w),
         |nu AS (SELECT CAST(sum(c) AS BIGINT) AS nu FROM uni),
         |big AS (SELECT ws[i] AS w1, ws[i + 1] AS w2, count(*) AS c12
         |        FROM dw, unnest(range(1, len(ws))) AS t(i) GROUP BY w1, w2),
         |nb AS (SELECT CAST(sum(c12) AS BIGINT) AS nb FROM big)
         |SELECT w1, w2, c12,
         |  CAST(c12 AS DOUBLE) * CAST(nu AS DOUBLE) * CAST(nu AS DOUBLE) /
         |    ((CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE)) * CAST(nb AS DOUBLE)) AS lift
         |FROM (SELECT b.w1, b.w2, b.c12, u1.c AS c1, u2.c AS c2
         |      FROM big b JOIN uni u1 ON u1.w = b.w1 JOIN uni u2 ON u2.w = b.w2
         |      WHERE b.c12 >= $CollocMinCount) j, nu, nb
         |ORDER BY lift DESC, w1, w2 LIMIT $CollocTop""".stripMargin,
    // the lpd8 quantization is the ONLY float step (one ln over a
    // double ratio built from the same integers); everything after is
    // exact BIGINT, so the per-doc weights and the top-K cut hash-match
    "text_dsir" ->
      s"""WITH wd AS (
         |  SELECT doc_id, lang, list_filter(string_split(text, ' '), x -> x <> '') AS ws
         |  FROM documents),
         |g AS (
         |  SELECT doc_id, lang, unnest(ws) AS g FROM wd
         |  UNION ALL
         |  SELECT doc_id, lang, ws[i] || ' ' || ws[i + 1] AS g
         |  FROM wd, unnest(range(1, len(ws))) AS u(i)),
         |gb AS (
         |  SELECT g, ('0x' || substr(md5('dsir:' || g), 1, 8))::BIGINT % $DsirBuckets AS bucket
         |  FROM (SELECT DISTINCT g FROM g) d),
         |bg AS (SELECT doc_id, lang, bucket FROM g JOIN gb USING (g)),
         |tot AS (
         |  SELECT count(*) AS ts_n,
         |    sum(CASE WHEN lang = '$DsirTargetLang' THEN 1 ELSE 0 END) AS tt_n
         |  FROM bg),
         |lpd AS (
         |  SELECT bucket, CAST(round(ln(
         |      ((ct + 1)::DOUBLE * (ts_n + $DsirBuckets)) /
         |      ((cs + 1)::DOUBLE * (tt_n + $DsirBuckets))) * 1e8) AS BIGINT) AS lpd8
         |  FROM (
         |    SELECT bucket, count(*) AS cs,
         |      sum(CASE WHEN lang = '$DsirTargetLang' THEN 1 ELSE 0 END) AS ct
         |    FROM bg GROUP BY bucket) a, tot),
         |pd AS (SELECT doc_id, bucket, count(*) AS cnt FROM bg GROUP BY 1, 2)
         |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_grams,
         |  CAST(sum(cnt * lpd8) AS BIGINT) AS logw_e8
         |FROM pd JOIN lpd USING (bucket)
         |GROUP BY doc_id ORDER BY logw_e8 DESC, doc_id LIMIT $DsirK""".stripMargin,
    "text_classify" ->
      s"""WITH wd AS (
         |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
         |  FROM documents),
         |wt AS (
         |  SELECT w,
         |    ('0x' || substr(md5('wgt:' || CAST(
         |        ('0x' || substr(md5('clf:' || w), 1, 8))::BIGINT % $ClfBuckets
         |      AS VARCHAR)), 1, 8))::BIGINT % 2001 - 1000 AS wt
         |  FROM (SELECT DISTINCT w FROM wd) d)
         |SELECT doc_id, count(*) AS n_tokens, CAST(sum(wt) AS BIGINT) AS score,
         |  CAST(CAST(sum(wt) AS BIGINT) > 0 AS BIGINT) AS label,
         |  CAST(floor(CAST(sum(wt) AS BIGINT) * 1000.0 / count(*)) AS BIGINT) AS score_pt
         |FROM wd JOIN wt USING (w)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_unigram" ->
      s"""WITH $UnigramCtes
         |SELECT doc_id, n_words, sum_lp, round(sum_lp / n_words, 4) AS avg_lp
         |FROM d ORDER BY doc_id""".stripMargin,
    // score-granular terciles: the window runs over DISTINCT (lang,
    // avg_lp) only — mirrors pplBuckets' cut construction exactly
    "text_ppl_bucket" ->
      s"""WITH $UnigramCtes,
         |pd AS (
         |  SELECT d.doc_id, round(sum_lp / n_words, 4) AS avg_lp, lang
         |  FROM d JOIN documents ON d.doc_id = documents.doc_id),
         |dist AS (SELECT lang, avg_lp, count(*) AS n_s FROM pd GROUP BY lang, avg_lp),
         |cum AS (
         |  SELECT lang, avg_lp, coalesce(SUM(n_s) OVER (
         |    PARTITION BY lang ORDER BY avg_lp DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
         |  FROM dist),
         |tot AS (SELECT lang, count(*) AS n_lang FROM pd GROUP BY lang),
         |cut AS (
         |  SELECT lang, avg_lp, CAST((3 * cum_before) // n_lang + 1 AS BIGINT) AS bucket
         |  FROM cum JOIN tot USING (lang))
         |SELECT doc_id, lang, avg_lp, bucket,
         |  CASE WHEN bucket = 1 THEN 'head' WHEN bucket = 2 THEN 'middle'
         |       ELSE 'tail' END AS label
         |FROM pd JOIN cut USING (lang, avg_lp) ORDER BY doc_id""".stripMargin,
    // the 8 training rounds unrolled as CTE pairs (b_s = argmax pair,
    // v_s = merge applied by literal pipe-delimited replace): same
    // weighted pair counts, same (count desc, left, right) tie pin,
    // same leftmost non-overlapping merge semantics
    "text_bpe_train" ->
      s"""WITH $BpeTrainCtes
         |SELECT step, merge_left, merge_right, pair_count
         |FROM ($BpeTrainMergesUnion) m ORDER BY step""".stripMargin,
    // the train chain's FINAL vocab (v8) IS the learned segmentation —
    // same per-word stats shape as text_bpe's fixed-vocab encode, with
    // the position×length checksum pinning every word's learned split
    "text_bpe_learned" ->
      s"""WITH $BpeTrainCtes,
         |fin AS (
         |  SELECT word, string_split(trim(seq, '|'), '||') AS syms
         |  FROM v$BpeTrainMerges),
         |st AS (
         |  SELECT word, len(syms)::BIGINT AS n_sub,
         |    CAST(coalesce(list_sum(list_transform(range(1, len(syms) + 1),
         |      i -> i * length(syms[CAST(i AS INTEGER)]))), 0) AS BIGINT) AS cks
         |  FROM fin)
         |SELECT doc_id, count(*)::BIGINT AS n_words,
         |  CAST(sum(n_sub) AS BIGINT) AS n_subwords,
         |  CAST(sum(cks) AS BIGINT) AS checksum
         |FROM (${WordCount.TokensSql}) tk JOIN st USING (word)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_bpe" ->
      s"""$BpeEncCtes
         |SELECT doc_id, count(*) AS n_words,
         |  CAST(sum(n_sub) AS BIGINT) AS n_subwords,
         |  CAST(sum(n_unk) AS BIGINT) AS n_unk,
         |  CAST(sum(cks) AS BIGINT) AS checksum
         |FROM wd JOIN fin USING (w)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_pack_bpe" ->
      s"""$BpeEncCtes,
         |t AS (
         |  SELECT doc_id, d.lang, CAST(sum(n_sub) AS BIGINT) AS n_tokens
         |  FROM wd JOIN fin USING (w) JOIN documents d USING (doc_id)
         |  GROUP BY doc_id, d.lang),
         |o AS (
         |  SELECT doc_id, lang, n_tokens,
         |    CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |           ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS start_off
         |  FROM t WHERE n_tokens > 0)
         |SELECT doc_id, lang, n_tokens, start_off,
         |  start_off // $PackSeqLen AS first_seq,
         |  (start_off + n_tokens - 1) // $PackSeqLen AS last_seq,
         |  (start_off + n_tokens - 1) // $PackSeqLen - start_off // $PackSeqLen + 1 AS n_seqs
         |FROM o ORDER BY lang, doc_id""".stripMargin,
    "text_chunks" ->
      s"""WITH w AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS n_tokens,
         |    1 + (greatest(CAST(len(ws) AS BIGINT) - $ChunkLen, 0) + ${ChunkStride - 1}) // $ChunkStride AS n_chunks
         |  FROM w WHERE len(ws) > 0)
         |SELECT doc_id, i AS chunk_idx,
         |  i * $ChunkStride AS tok_start,
         |  least($ChunkLen, n_tokens - i * $ChunkStride) AS tok_len,
         |  md5(array_to_string(
         |    ws[i * $ChunkStride + 1 : i * $ChunkStride + least($ChunkLen, n_tokens - i * $ChunkStride)],
         |    ' ')) AS chunk_hash
         |FROM c, LATERAL (SELECT unnest(generate_series(0, n_chunks - 1)) AS i) s
         |ORDER BY doc_id, chunk_idx""".stripMargin,
    "text_pack" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang,
         |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |o AS (
         |  SELECT doc_id, lang, n_tokens,
         |    CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |           ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS start_off
         |  FROM t WHERE n_tokens > 0)
         |SELECT doc_id, lang, n_tokens, start_off,
         |  start_off // $PackSeqLen AS first_seq,
         |  (start_off + n_tokens - 1) // $PackSeqLen AS last_seq,
         |  (start_off + n_tokens - 1) // $PackSeqLen - start_off // $PackSeqLen + 1 AS n_seqs
         |FROM o ORDER BY lang, doc_id""".stripMargin,
    // the oracle mirrors only the PERMUTATION arithmetic (seeded hash
    // key, rank over the (key, doc_id) total order) — the two-level
    // bucket scan is implementation, invisible in the output
    "text_shard" ->
      s"""SELECT doc_id, position,
         |  position // $ShardSize AS shard_id,
         |  position % $ShardSize AS shard_pos
         |FROM (
         |  SELECT doc_id,
         |    row_number() OVER (ORDER BY
         |      ('0x' || substr(md5('shard:' || doc_id::VARCHAR), 1, 8))::BIGINT,
         |      doc_id) - 1 AS position
         |  FROM documents) t
         |ORDER BY position""".stripMargin,
    // phase-major rank: within-phase row_number over (key, doc_id),
    // phase offsets from the 3-row phase-count frame; NULL quality
    // (letterless doc) falls through both CASE arms to phase 2
    "text_curriculum" ->
      s"""WITH p AS (
         |  SELECT doc_id,
         |    CAST(CASE WHEN quality >= $CurriculumHi THEN 0
         |              WHEN quality >= $QualityMin THEN 1
         |              ELSE 2 END AS BIGINT) AS phase,
         |    ('0x' || substr(md5('shard:' || doc_id::VARCHAR), 1, 8))::BIGINT AS k
         |  FROM ($QualitySql) q),
         |r AS (
         |  SELECT doc_id, phase,
         |    row_number() OVER (PARTITION BY phase ORDER BY k, doc_id) - 1 AS ppos
         |  FROM p),
         |o AS (SELECT phase, count(*) AS n FROM p GROUP BY 1),
         |f AS (SELECT phase, CAST(coalesce(sum(n) OVER (ORDER BY phase
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS poff
         |  FROM o)
         |SELECT r.doc_id, r.phase, CAST(poff + ppos AS BIGINT) AS position,
         |  CAST((poff + ppos) // $ShardSize AS BIGINT) AS shard_id,
         |  CAST((poff + ppos) % $ShardSize AS BIGINT) AS shard_pos
         |FROM r JOIN f USING (phase) ORDER BY position""".stripMargin,
    // keep-first over aligned LineWords-word blocks: the two-stage
    // argmin (min doc, then min blk within it) equals Spark's
    // min(struct(doc_id, blk)) under the same lexicographic order
    // mirrors the staged-page construction arithmetic: the kept set is
    // exactly the prose chunks with >= ExtractMinWords words (all three
    // chrome blocks are built to fail — nav/div on min-words, footer on
    // link density), so the oracle re-derives counts and the extracted
    // digest straight from the source words, while Spark re-derives
    // them from the actual HTML. Any extractor bug (segmentation,
    // tag-strip, unescape, density arithmetic) breaks the hash.
    "text_extract" ->
      s"""WITH w AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
         |  FROM documents),
         |s AS (
         |  SELECT doc_id, len(ws) AS n, len(ws) % ${graft.sources.Sources.HtmlBlockWords} AS tail, ws
         |  FROM w),
         |k AS (
         |  SELECT doc_id, n, tail,
         |    n - CASE WHEN tail BETWEEN 1 AND ${ExtractMinWords - 1} THEN tail ELSE 0 END AS kw,
         |    ws
         |  FROM s)
         |SELECT doc_id,
         |  CAST((n + ${graft.sources.Sources.HtmlBlockWords - 1}) // ${graft.sources.Sources.HtmlBlockWords} + 3 AS BIGINT) AS n_blocks,
         |  CAST(n // ${graft.sources.Sources.HtmlBlockWords}
         |    + CASE WHEN tail >= $ExtractMinWords THEN 1 ELSE 0 END AS BIGINT) AS n_kept,
         |  CAST(kw AS BIGINT) AS words_kept,
         |  CAST(('0x' || substr(md5('ex:' || array_to_string(ws[1:kw], ' ')), 1, 8))::BIGINT AS BIGINT) AS text_h
         |FROM k ORDER BY doc_id""".stripMargin,
    "text_linededup" ->
      s"""WITH w AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
         |  FROM documents),
         |b AS (
         |  SELECT doc_id, i AS blk,
         |    md5(array_to_string(ws[(i-1)*$LineWords+1 : i*$LineWords], ' ')) AS dig,
         |    least(len(ws) - (i-1)*$LineWords, $LineWords) AS wl
         |  FROM w, LATERAL (SELECT unnest(generate_series(1,
         |    (len(ws) + ${LineWords - 1}) // $LineWords)) AS i) t),
         |f AS (SELECT dig, count(*) AS cnt FROM b GROUP BY 1),
         |k1 AS (SELECT dig, min(doc_id) AS kd FROM b GROUP BY 1),
         |k AS (SELECT b.dig AS dig, k1.kd, min(b.blk) AS kb
         |      FROM b JOIN k1 ON b.dig = k1.dig AND b.doc_id = k1.kd
         |      GROUP BY 1, 2)
         |SELECT b.doc_id, count(*) AS n_lines,
         |  CAST(sum(CASE WHEN cnt = 1 OR (b.doc_id = kd AND b.blk = kb)
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(sum(CASE WHEN cnt = 1 OR (b.doc_id = kd AND b.blk = kb)
         |    THEN wl ELSE 0 END) AS BIGINT) AS words_kept,
         |  CAST(sum(CASE WHEN cnt = 1 OR (b.doc_id = kd AND b.blk = kb)
         |    THEN ('0x' || substr(md5('ld:' || b.dig), 1, 8))::BIGINT
         |    ELSE 0 END) AS BIGINT) AS sum_h
         |FROM b JOIN f ON b.dig = f.dig JOIN k ON b.dig = k.dig
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "text_gopher" ->
      s"""WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
         |           FROM documents),
         |tok AS (SELECT doc_id, unnest(ws) AS word FROM w),
         |wc AS (SELECT doc_id, word, count(*) AS cnt FROM tok GROUP BY 1, 2),
         |a AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_words,
         |        CAST(max(cnt) AS BIGINT) AS max_cnt,
         |        CAST(sum(length(word) * cnt) AS BIGINT) AS sum_wlen,
         |        CAST(coalesce(sum(CASE WHEN word IN ${inList(GopherStops)} THEN cnt END), 0) AS BIGINT) AS stop_cnt
         |      FROM wc GROUP BY 1),
         |g AS (SELECT doc_id, array_to_string(ws[i:i+1], ' ') AS gram
         |      FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws) - 1)) AS i) s),
         |gc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |        CAST(count(DISTINCT gram) AS BIGINT) AS d_grams FROM g GROUP BY 1)
         |SELECT doc_id, n_words,
         |  round(sum_wlen::DOUBLE / n_words, 4) AS mean_wlen,
         |  round(max_cnt::DOUBLE / n_words, 4) AS top_frac,
         |  round(coalesce((n_grams - d_grams)::DOUBLE / nullif(n_grams, 0), 0), 4) AS dup_frac,
         |  stop_cnt,
         |  (max_cnt::DOUBLE / n_words <= $GopherTopFracMax
         |   AND coalesce((n_grams - d_grams)::DOUBLE / nullif(n_grams, 0), 0) <= $GopherDupFracMax
         |   AND n_words >= $GopherMinWords AND stop_cnt >= 1)::BIGINT AS passes
         |FROM a LEFT JOIN gc USING (doc_id) ORDER BY doc_id""".stripMargin,
    "text_decontam" ->
      s"""WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
         |           FROM documents),
         |grams AS (SELECT doc_id, array_to_string(ws[i:i+${DecontamN - 1}], ' ') AS g
         |          FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws) - ${DecontamN - 1})) AS i) s),
         |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % $BenchMod = 0)
         |SELECT doc_id, CAST(count(DISTINCT g) AS BIGINT) AS n_hits
         |FROM grams JOIN bench USING (g) WHERE doc_id % $BenchMod <> 0
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_tfidf" ->
      s"""WITH tf AS (
         |  SELECT doc_id, word, count(*) AS tf FROM (
         |    SELECT doc_id, unnest($W) AS word FROM documents) tk
         |  GROUP BY 1, 2),
         |dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |r AS (
         |  SELECT doc_id, word, tf, df,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY tf DESC, df ASC, word ASC) AS rnk
         |  FROM tf JOIN dfreq USING (word))
         |SELECT doc_id, word, tf, df, rnk,
         |  round(tf * ln(n_docs::DOUBLE / df), 4) AS tfidf
         |FROM r, n WHERE rnk <= $TfidfTopK
         |ORDER BY doc_id, rnk""".stripMargin,
    "text_stratified" ->
      s"""SELECT doc_id, lang, source, rnk FROM (
         |  SELECT doc_id, lang, source,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY md5('strat:' || doc_id::VARCHAR), doc_id) AS rnk
         |  FROM documents) t
         |WHERE rnk <= $StratumK ORDER BY lang, rnk""".stripMargin,
    "text_normalize" ->
      s"""SELECT doc_id,
         |  md5(trim(regexp_replace(lower(text), '${WordCount.TokenRe}', ' ', 'g'))) AS norm_hash,
         |  length(trim(regexp_replace(lower(text), '${WordCount.TokenRe}', ' ', 'g')))::BIGINT AS n_norm_chars,
         |  length(text)::BIGINT AS n_raw_chars
         |FROM documents ORDER BY doc_id""".stripMargin,
    // the staged CTE chain mirrors piiRedact exactly: each stage counts
    // on the previous stage's string, then redacts; patterns/masks are
    // interpolated from the SAME PiiPatterns the operator folds over
    "text_pii" -> {
      val inj = "text || CASE WHEN doc_id % 5 = 0 THEN '' ELSE" +
        " ' contact u' || doc_id || '@mail' || (doc_id % 7) || '.example or '" +
        " || lpad(CAST((doc_id * 7919) % 1000 AS VARCHAR), 3, '0') || '-'" +
        " || lpad(CAST((doc_id * 104729) % 1000 AS VARCHAR), 3, '0') || '-'" +
        " || lpad(CAST((doc_id * 1299709) % 10000 AS VARCHAR), 4, '0')" +
        " || ' from 10.' || (doc_id % 256) || '.0.' || ((doc_id * 31) % 256)" +
        " || ' id 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') END"
      val stages = PiiPatterns.zipWithIndex.map { case ((name, pat, mask), i) =>
        s"""st${i + 1} AS (
           |  SELECT * EXCLUDE (s),
           |    len(regexp_extract_all(s, '$pat'))::BIGINT AS n_$name,
           |    regexp_replace(s, '$pat', '$mask', 'g') AS s
           |  FROM st$i)""".stripMargin
      }.mkString(",\n")
      val residual = PiiPatterns.map { case (_, pat, _) =>
        s"len(regexp_extract_all(s, '$pat'))" }.mkString(" + ")
      s"""WITH st0 AS (SELECT doc_id, $inj AS s FROM documents),
         |$stages
         |SELECT doc_id, ${PiiPatterns.map("n_" + _._1).mkString(", ")},
         |  ($residual)::BIGINT AS n_residual,
         |  md5(s) AS clean_hash, length(s)::BIGINT AS clean_len
         |FROM st${PiiPatterns.size} ORDER BY doc_id""".stripMargin
    },
    "text_langid" -> {
      val counts = Markers.map { case (l, m) => s"${nMarker(m)} AS n_$l" }.mkString(", ")
      val best = "greatest(" + Markers.map(m => s"n_${m._1}").mkString(", ") + ")"
      val cases = Markers.map { case (l, _) => s"WHEN n_$l = best AND best > 0 THEN '$l'" }
        .mkString(" ")
      val names = Markers.map(m => s"n_${m._1}").mkString(", ")
      s"""SELECT doc_id, pred_lang, lang, (lang = pred_lang)::BIGINT AS agree FROM (
         |  SELECT doc_id, lang, CASE $cases ELSE 'und' END AS pred_lang
         |  FROM (SELECT doc_id, lang, $names, $best AS best
         |        FROM (SELECT doc_id, lang, $counts FROM documents) c) b) t
         |ORDER BY doc_id""".stripMargin
    },
    "text_quality" -> QualitySql,
    // perceptron epochs unrolled: ql = ±1 labels from the SAME quality
    // SQL the rules gate; w1 is the full label-weighted feature sum
    // (epoch 1 from w=0 misclassifies everything); later epochs score →
    // misclassify → update. All integer — zero rounding discipline.
    // same ln((h+1)/2^32)/w double chain on the same integers, rounded
    // at 12dp before ordering (Math.log vs libm log are ulp-accurate,
    // not bit-identical — the round pins the ORDER key cross-engine)
    "text_wsample" ->
      s"""SELECT rank, doc_id FROM (
         |  SELECT doc_id,
         |    row_number() OVER (ORDER BY
         |      round(ln((('0x' || substr(md5('ws:' || doc_id::VARCHAR), 1, 8))::BIGINT + 1)
         |          / 4294967296.0)
         |        / CAST(n_chars AS DOUBLE), 12) DESC, doc_id) AS rank
         |  FROM documents WHERE n_chars > 0) t
         |WHERE rank <= $WSampleK ORDER BY rank""".stripMargin,
    "text_train" ->
      s"""WITH $TrainCtesSql
         |SELECT bucket, wt AS weight FROM w$TrainIters
         |WHERE wt <> 0 ORDER BY bucket""".stripMargin,
    // the same unrolled training trajectory, then SERVED back over the
    // corpus — per-lang keep rates in exact integer ppm
    "pipe_train" ->
      s"""WITH $TrainCtesSql,
         |wfin AS (SELECT bucket, wt FROM w$TrainIters WHERE wt <> 0),
         |sc AS (SELECT doc_id, CAST(sum(cnt * wt) AS BIGINT) AS score
         |       FROM feats JOIN wfin USING (bucket) GROUP BY 1),
         |sc2 AS (SELECT d.lang, coalesce(sc.score, 0) AS score
         |        FROM documents d LEFT JOIN sc USING (doc_id)),
         |tot AS (SELECT count(*) AS n_tot, CAST(sum(score) AS BIGINT) AS s_tot
         |        FROM sc2)
         |SELECT lang, count(*)::BIGINT AS n_docs,
         |  CAST(sum(CASE WHEN score * n_tot > s_tot THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_keep,
         |  CAST(sum(CASE WHEN score * n_tot > s_tot THEN 1 ELSE 0 END)
         |    AS BIGINT) * 1000000 // count(*) AS keep_ppm
         |FROM sc2, tot GROUP BY 1 ORDER BY 1""".stripMargin,
    "text_tokencount" ->
      s"""SELECT doc_id,
         |  len(list_filter(string_split(text, ' '), w -> w <> ''))::BIGINT AS ws_tokens,
         |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))::BIGINT AS re_tokens,
         |  coalesce(list_sum(list_transform($W, w -> ((length(w) + 3) // 4)::BIGINT)), 0)::BIGINT AS bpe_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,
    "text_fingerprint" ->
      s"""SELECT doc_id,
         |  md5(text) AS fp_content,
         |  md5(array_to_string(list_sort($W), ' ')) AS fp_shape,
         |  md5(array_to_string($W[1:8], ' ')) AS fp_head,
         |  md5(array_to_string($W[-8:], ' ')) AS fp_tail,
         |  list_reduce(
         |    list_prepend(0::BIGINT, list_transform($W,
         |      w -> ('0x' || substr(md5('rl:' || w), 1, 8))::BIGINT)),
         |    (acc, x) -> (acc * $RollBase + x) % $RollP) AS fp_rolling
         |FROM documents ORDER BY doc_id""".stripMargin,
    // windowed Karp–Rabin mirrored term for term (lag×3 coalesced to 0,
    // same fold order/mods); chunk_id = exclusive running boundary count
    // same fold/window arithmetic, 1-based positions (i>=4 valid k-gram,
    // i>=7 first full window); sums cast from DuckDB's HUGEINT
    "text_winnow" ->
      s"""WITH pos AS (
         |  SELECT doc_id, i, ('0x' || substr(md5('wn:' || w[i]), 1, 8))::BIGINT AS v
         |  FROM (SELECT doc_id, $W AS w FROM documents) e,
         |       unnest(range(1, len(w) + 1)) AS u(i)),
         |kh AS (
         |  SELECT doc_id, i,
         |    (((((coalesce(lag(v, 3) OVER win, 0) * $RollBase
         |          + coalesce(lag(v, 2) OVER win, 0)) % $RollP) * $RollBase
         |          + coalesce(lag(v, 1) OVER win, 0)) % $RollP) * $RollBase + v)
         |      % $RollP AS h
         |  FROM pos WINDOW win AS (PARTITION BY doc_id ORDER BY i)),
         |pk AS (
         |  SELECT doc_id, i, h * 1048576 + (1048575 - i) AS m
         |  FROM kh WHERE i >= $WinK),
         |sel AS (
         |  SELECT DISTINCT doc_id,
         |    selm // 1048576 AS fp_h, 1048575 - (selm % 1048576) AS fp_pos
         |  FROM (SELECT doc_id, i, min(m) OVER (PARTITION BY doc_id ORDER BY i
         |          ROWS BETWEEN ${WinW - 1} PRECEDING AND CURRENT ROW) AS selm
         |        FROM pk) s
         |  WHERE i >= ${WinK + WinW - 1}),
         |pd AS (
         |  SELECT doc_id, count(*)::BIGINT AS n_fp,
         |    CAST(sum(fp_h) AS BIGINT) AS fp_sum
         |  FROM sel GROUP BY doc_id),
         |dh AS (SELECT DISTINCT doc_id, fp_h FROM sel),
         |sh AS (SELECT fp_h FROM dh GROUP BY fp_h
         |       HAVING count(DISTINCT doc_id) > 1),
         |sd AS (
         |  SELECT doc_id, CAST(sum(CASE WHEN fp_h IN (SELECT fp_h FROM sh)
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
         |  FROM dh GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CAST(greatest(len($W) - ${WinK - 1}, 0) AS BIGINT) AS n_kgrams,
         |  coalesce(pd.n_fp, 0)::BIGINT AS n_fp,
         |  coalesce(sd.n_shared, 0)::BIGINT AS n_shared,
         |  coalesce(pd.fp_sum, 0)::BIGINT AS fp_sum
         |FROM documents d
         |LEFT JOIN pd ON d.doc_id = pd.doc_id
         |LEFT JOIN sd ON d.doc_id = sd.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "text_cdc" ->
      s"""WITH pos AS (
         |  SELECT doc_id, i, w[i] AS w,
         |    ('0x' || substr(md5('cdc:' || w[i]), 1, 8))::BIGINT AS v
         |  FROM (SELECT doc_id, $W AS w FROM documents) e,
         |       unnest(range(1, len(w) + 1)) AS u(i)),
         |h AS (
         |  SELECT doc_id, i, w,
         |    (((((coalesce(lag(v, 3) OVER win, 0) * $RollBase
         |          + coalesce(lag(v, 2) OVER win, 0)) % $RollP) * $RollBase
         |          + coalesce(lag(v, 1) OVER win, 0)) % $RollP) * $RollBase + v)
         |      % $RollP AS h4
         |  FROM pos WINDOW win AS (PARTITION BY doc_id ORDER BY i)),
         |cid AS (
         |  SELECT doc_id, i, w, coalesce(SUM(CASE WHEN h4 % $CdcMask = 0 THEN 1 ELSE 0 END)
         |    OVER (PARTITION BY doc_id ORDER BY i
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
         |  FROM h),
         |ch AS (
         |  SELECT doc_id, chunk_id, count(*)::BIGINT AS n_words,
         |    md5(string_agg(w, ' ' ORDER BY i)) AS chunk_hash
         |  FROM cid GROUP BY doc_id, chunk_id),
         |dup AS (
         |  SELECT chunk_hash FROM ch GROUP BY chunk_hash
         |  HAVING count(DISTINCT doc_id) > 1),
         |pd AS (
         |  SELECT doc_id, count(*)::BIGINT AS n_chunks,
         |    CAST(sum(CASE WHEN chunk_hash IN (SELECT chunk_hash FROM dup)
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
         |    max(n_words)::BIGINT AS max_chunk_words
         |  FROM ch GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(n_chunks, 0) AS n_chunks,
         |  coalesce(n_dup_chunks, 0) AS n_dup_chunks,
         |  coalesce(max_chunk_words, 0) AS max_chunk_words
         |FROM documents d LEFT JOIN pd USING (doc_id) ORDER BY doc_id""".stripMargin,
    "text_percentiles" ->
      """WITH r AS (
        |  SELECT lang, n_chars,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents)
        |SELECT lang, CAST(max(n) AS BIGINT) AS n_docs,
        |  CAST(min(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT) THEN n_chars END) AS BIGINT) AS p50,
        |  CAST(min(CASE WHEN rn = CAST(ceil(n * 0.9) AS BIGINT) THEN n_chars END) AS BIGINT) AS p90,
        |  CAST(min(CASE WHEN rn = CAST(ceil(n * 0.99) AS BIGINT) THEN n_chars END) AS BIGINT) AS p99
        |FROM r GROUP BY lang ORDER BY lang""".stripMargin,
    "text_sample" ->
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE ('0x' || substr(md5('smp:' || doc_id::VARCHAR), 1, 8))::BIGINT % 100 < $SamplePct
         |ORDER BY doc_id""".stripMargin,
  )
}
