package graft.operators

import graft.{Cleanup, Pin}
import graft.Pin.PinOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference engine's core analytics job — distributed word count —
  * re-expressed Spark-first.
  *
  * Reference semantics (cited from /root/reference):
  *  - tokenization: split on any non-letter rune, case-sensitive
  *    (core/map_reduce.go:543-550 `strings.FieldsFunc(_, !unicode.IsLetter)`)
  *  - in-mapper combiner: per-chunk hash-map pre-aggregation
  *    (core/map_reduce.go:546-549) — Spark's partial aggregation does this
  *    automatically inside `groupBy().agg()` (HashAggregate partial/final).
  *  - shuffle: char-sum hash routing to reducers (core/utils.go:353-364) —
  *    subsumed by Spark's Murmur3 hash exchange, which distributes far more
  *    uniformly at 1000-reducer scale than the reference's `sum(chars) % R`.
  *  - finalize: sort by count descending (master/main.go:292-293,
  *    `SORT_FINAL`); we add `word asc` as deterministic tie-break.
  *
  * Scale notes: tokenize+explode+count is a single shuffle with map-side
  * combine; no UDFs (all codegen'd `functions`); the final total sort is a
  * range-partitioned exchange only on the (small) aggregated token table.
  */
object WordCount {

  /** Split on runs of non-letters — reference `!unicode.IsLetter`
    * semantics in full: `\p{L}` is the Unicode letter category in both
    * Java regex (Spark) and RE2 (DuckDB), so the same pattern string
    * drives the operator and its oracle, and non-ASCII corpora tokenize
    * identically to the reference. */
  val TokenRe = "[^\\p{L}]+"

  /** One row per token. Empty strings (leading separator artifacts) dropped,
    * as `strings.FieldsFunc` never yields empties. */
  def tokens(docs: DataFrame, extraCols: Column*): DataFrame = {
    val cols = extraCols :+ explode(split(col("text"), TokenRe)).as("word")
    docs.select(cols: _*).where(col("word") =!= "")
  }

  /** `outTokens.list` equivalent: (word, cnt) sorted cnt desc, word asc. */
  def wordCount(docs: DataFrame): DataFrame =
    tokens(docs)
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word"))

  /** Head of the sorted token list (reference's most-frequent tokens). */
  def topK(docs: DataFrame, k: Int): DataFrame =
    wordCount(docs).limit(k)

  /** The reference's reducer count (`configurations/config.json`
    * ISTANCES_NUM_REDUCE = 3) and hash salt (`core/utils.go:356`
    * EXTRASHUFFLE = 96). */
  val RouteReducers = 3
  val ExtraShuffle = 96

  /** KEY → REDUCER ROUTING, exact (`wc_route`, r9): the reference's
    * `HashKeyReducerSum` (`core/utils.go:353-364`) decides which of the
    * [[RouteReducers]] reducers owns each word — the one piece of its
    * shuffle that is OBSERVABLE BEHAVIOR rather than subsumed
    * infrastructure (per-reducer partition contents; the locality-aware
    * placement AROUND it maps to Spark scheduler locality, SURVEY §1).
    * This key gates the per-reducer workload profile: words and total
    * tokens routed to each reducer id.
    *
    * Faithfulness note: the Go loop is `for c := range key { sum += c }`
    * — single-variable range over a STRING yields the BYTE INDEX of
    * each rune start, not the rune — so the "char-sum hash" actually
    * sums rune byte-offsets (0+1+…+len−1 for ASCII; multibyte runes
    * skip indices). Reproduced exactly: Σ octet_length(first-i-chars
    * prefix) over i = 0..chars−1, + [[ExtraShuffle]], mod
    * [[RouteReducers]] — both engines evaluate the same integer chain,
    * and the quirk (a length-shaped, content-blind distribution for
    * ASCII corpora) is part of the gated semantics, like wc_concat's
    * boundary artifacts.
    *
    * Scale: the routing computes on the VOCABULARY-sized count table
    * (one short prefix fold per distinct word), never per token; one
    * combiner count shuffle + one [[RouteReducers]]-row aggregate. */
  /** `HashKeyReducerSum(word) % RouteReducers` as a Column — the
    * shared routing expression of [[routeCounts]] and
    * [[routeCostMatrix]]. */
  private def reducerOf(w: Column): Column = {
    val prefixBytes = transform(
      sequence(lit(0), length(w) - 1),
      i => octet_length(w.substr(lit(1), i)).cast("long"))
    pmod(aggregate(prefixBytes, lit(0L), (acc, x) => acc + x) + ExtraShuffle,
      lit(RouteReducers.toLong))
  }

  def routeCounts(docs: DataFrame): DataFrame =
    tokens(docs)
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .select(reducerOf(col("word")).as("reducer"), col("cnt"))
      .groupBy("reducer")
      .agg(count(lit(1)).as("n_words"), sum("cnt").as("n_tokens"))
      .orderBy("reducer")

  /** THE LOCALITY-AWARE PLACEMENT INPUT, exact (`wc_routecost`, r9):
    * the reference's whole thesis — place each reducer on the worker
    * that minimizes data movement — is driven by ONE data structure,
    * the per-mapper `Map2ReduceRouteCost` matrix
    * (`core/map_reduce.go:224-227`, built at 552-556): every mapper
    * (= one CHUNK) runs its in-mapper combiner (`IntermediateTokens`,
    * one entry per DISTINCT word in the chunk) and accumulates, per
    * destination reducer, `estimateTokenSize(token)` =
    * `len(k) + 4` bytes (`core/workersUtils.go:53-56` — Go `len` =
    * UTF-8 bytes) and one expected reduce call. This key gates the
    * aggregated matrix: per reducer id, total estimated route cost and
    * total expected reduce calls, summed over all mappers of the
    * [[ChunkChars]] fixed-size chunkization (`wc_chunked`'s gated data
    * model, boundary artifacts included).
    *
    * RouteNum counts (chunk, word) DISTINCT pairs — not global distinct
    * words (a word in 3 chunks is 3 expected calls), not tokens (the
    * combiner collapses within a chunk) — the exact number the master's
    * `RoutingCostsSorter` ranks placements by.
    *
    * Scale: one chunkize+tokenize pass, a (chunk, word) distinct (the
    * combiner shape, vocabulary-×-chunks bounded), a 3-row aggregate. */
  def routeCostMatrix(docs: DataFrame): DataFrame = {
    val words = graft.sources.Sources.chunked(docs, ChunkChars)
      .select(col("doc_id"), col("chunk_no"),
        explode(filter(split(col("chunk"), TokenRe), w => w =!= "")).as("word"))
      .distinct()
    words.select(reducerOf(col("word")).as("reducer"),
        (octet_length(col("word")) + 4).cast("long").as("cost"))
      .groupBy("reducer")
      .agg(sum("cost").as("route_cost"), count(lit(1)).as("route_num"))
      .orderBy("reducer")
  }

  /** Map workers (`WORKER_NUM_MAP` = [[NumChunksFixed]] = 5) and
    * dedicated reduce-only workers (`WORKER_NUM_ONLY_REDUCE` = 2) of
    * the reference's default config. */
  val OnlyReduceWorkers = 2

  /** THE PLACEMENT DECISION, exact (`wc_place`, r9) — the output the
    * whole "localityaware" machinery exists to produce: which worker
    * hosts each reducer (`ReducersBindingsLocallityAwareEuristic`,
    * `core/masterReducersBindings.go:33-77`). Full pipeline mirrored:
    *
    *  1. chunks = the CROSS-FILE fixed-COUNT chunkization
    *     (`wc_chunked_n`'s gated model, r10 — the `CHUNK_SIZE ≤ 0`
    *     path the cited default config ACTUALLY runs, closing the r9
    *     ADVICE drift where placement fed on the fixed-size model):
    *     `WORKER_NUM_MAP` = 5 global chunks, remainder chars to the
    *     last;
    *  2. chunk → map worker by CONTIGUOUS FAIR SHARE
    *     (`master/main.go:382-408`): fs = max(1, numChunks div 5),
    *     worker(c) = min(c div fs, 4) — under the default config
    *     numChunks = WORKER_NUM_MAP so the share is 1:1 (worker c hosts
    *     chunk c), and the formula still covers the degenerate
    *     single-chunk corpus (everything on the last worker);
    *  3. per (worker, reducer) edge: the summed `Map2ReduceRouteCost`
    *     (`wc_routecost`'s gated arithmetic over this chunk model);
    *  4. edges sort by cost DESC and the greedy contraction binds
    *     reducers to workers under `MAX_REDUCERS_PER_WORKER`. Under
    *     the default config `maxContractions = ISTANCES_NUM_REDUCE −
    *     WORKER_NUM_ONLY_REDUCE = 1`, so the loop IS the argmax edge —
    *     gated declaratively; remaining reducers bind to the
    *     reduce-only workers in ascending reducer order
    *     (`masterReducersBindings.go:63-70`).
    *
    * Tie discipline: Go's `sort.Sort` is UNSTABLE, so the reference's
    * own behavior on exact cost ties is unspecified — both engines here
    * pin (cost desc, worker, reducer), the `wc_lpa` precedent of
    * making an unspecified tie-break deterministic identically on both
    * sides. Degenerate corpora (fewer edges than non-only-reduce
    * bindings needed) make the reference PANIC
    * (`masterReducersBindings.go:72-75`) — out of the gated domain.
    *
    * Scale: the edge frame is workers × reducers — CLUSTER-topology
    * sized, not data sized; everything upstream is the wc_routecost
    * shape. Output: (reducer, host, via). */
  def placement(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val chunks = graft.sources.Sources.concatChunkedN(docs, NumChunksFixed)
    val n = chunks.agg(count(lit(1)).as("n_chunks"))
    val w = lit(NumChunksFixed.toLong)
    val edges = chunks.crossJoin(broadcast(n))
      .select(least(expr(s"chunk_no div greatest(n_chunks div $NumChunksFixed, 1)"),
          w - 1).as("worker"),
        explode(array_distinct(filter(split(col("chunk"), TokenRe), x => x =!= "")))
          .as("word"))
      // a word may repeat across a worker's chunks: combiner is
      // PER CHUNK, so distinct runs per (chunk) above, then costs sum
      .select(col("worker"), reducerOf(col("word")).as("reducer"),
        (octet_length(col("word")) + 4).cast("long").as("cost"))
      .groupBy("worker", "reducer").agg(sum("cost").as("cost"))
    val top = edges
      .orderBy(col("cost").desc, col("worker"), col("reducer")).limit(1)
      .select(col("reducer"), col("worker"))
    val reducers = spark.range(RouteReducers).select(col("id").as("reducer"))
    val bound = reducers.join(broadcast(top), Seq("reducer"), "left")
    val wIdx = org.apache.spark.sql.expressions.Window
      .partitionBy(col("worker").isNull).orderBy("reducer")
    bound
      .withColumn("ri", row_number().over(wIdx).cast("long") - 1)
      .select(col("reducer"),
        when(col("worker").isNotNull, col("worker")).otherwise(col("ri")).as("host"),
        when(col("worker").isNotNull, lit("locality")).otherwise(lit("only_reduce"))
          .as("via"))
      .orderBy("reducer")
  }

  /** Distinct-token count per language — distinct + grouping shape. */
  def distinctPerLang(docs: DataFrame): DataFrame =
    tokens(docs, col("lang"))
      .select("lang", "word").distinct()
      .groupBy("lang").agg(count(lit(1)).as("n_distinct"))
      .orderBy("lang")

  /** Word-length histogram over all tokens. */
  def lengthHistogram(docs: DataFrame): DataFrame =
    tokens(docs)
      // cast to long: DuckDB length() is BIGINT, Spark's is INT
      .groupBy(length(col("word")).cast("long").as("wlen"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("wlen")

  val TopBigrams = 100

  /** Word BIGRAM counts — the n-gram LM counting workload (the classic
    * second MapReduce job after word count): adjacent token pairs
    * WITHIN a document (never across doc boundaries), counted
    * corpus-wide, top [[TopBigrams]]. The pair construction is a
    * per-row zip of the token array against its own tail — map-only —
    * so the whole job is still ONE shuffle with map-side combine, and
    * the top-k plans as a TakeOrdered over the aggregated pair table. */
  def bigramCount(docs: DataFrame): DataFrame = {
    val ws = filter(split(col("text"), TokenRe), w => w =!= "")
    val n1 = greatest(size(ws) - 1, lit(0))
    docs.select(explode(zip_with(
        slice(ws, lit(1), n1), slice(ws, lit(2), n1),
        (a, b) => concat_ws(" ", a, b))).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("bigram"))
      .limit(TopBigrams)
  }

  val CoWindow = 2   // co-occurrence window: offsets 1..CoWindow
  val TopCooc = 100

  /** Windowed CO-OCCURRENCE counts with PMI — the word2vec/GloVe
    * statistics job: unordered token pairs within ±[[CoWindow]]
    * positions inside a document, counted corpus-wide; the top
    * [[TopCooc]] pairs annotated with pointwise mutual information
    * ln((n/N_pairs) / ((n_w1/N_tok)(n_w2/N_tok))).
    *
    * Scale: ONE tokenize pass — each doc's explode emits both its
    * unigram witnesses (kind 0, (w, "")) and its window pairs (kind 1)
    * — and ONE count shuffle (map-side combine over the combined
    * vocabulary) produce a count table that is persisted so the top-k
    * cut, the unigram joins, and BOTH corpus totals (n_tok/n_pairs are
    * sums over the vocabulary-sized count table, never corpus
    * re-scans) read the same single-scan result. Before r7 this was
    * three tokenize+explode passes; the cache holds counts, not text.
    * PMI joins unigram counts AFTER the top-k cut, so the vocabulary
    * join touches [[TopCooc]] rows, never the pair table. PMI's value
    * is one chained double expression evaluated in the same order by
    * both engines, rounded at 6dp where they agree. The cache obeys
    * the suite's caller-must-clear contract ([[graft.Cleanup]]). */
  def cooccur(docs: DataFrame): DataFrame = {
    val ws = filter(split(col("text"), TokenRe), w => w =!= "")
    def pairsAt(k: Int): Column = {
      val n = greatest(size(ws) - k, lit(0))
      zip_with(slice(ws, lit(1), n), slice(ws, lit(1 + k), n),
        (a, b) => struct(least(a, b).as("w1"), greatest(a, b).as("w2")))
    }
    // tokens ride the same explode as pairs, flagged by empty w2 (a
    // real token is never "" — the filter above — so no collision)
    val toks = transform(ws, w => struct(w.as("w1"), lit("").as("w2")))
    val counts = docs
      .select(explode(concat(toks +: (1 to CoWindow).map(pairsAt): _*)).as("p"))
      .select(col("p.w1"), col("p.w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n"))
      .persist()
    val pairCounts = counts.where(col("w2") =!= "")
    val top = pairCounts.select("w1", "w2", "n")
      .orderBy(col("n").desc, col("w1"), col("w2")).limit(TopCooc)
    val uni = counts.where(col("w2") === "")
      .select(col("w1").as("word"), col("n").as("cnt"))
    broadcast(top)
      .join(uni.select(col("word").as("w1"), col("cnt").as("n_w1")), "w1")
      .join(uni.select(col("word").as("w2"), col("cnt").as("n_w2")), "w2")
      .crossJoin(broadcast(uni.agg(sum(col("cnt")).as("n_tok"))))
      .crossJoin(broadcast(pairCounts.agg(sum(col("n")).as("n_pairs"))))
      .select(col("w1"), col("w2"), col("n"),
        round(log(col("n") * lit(1.0) * col("n_tok") * col("n_tok")
          / col("n_pairs") / col("n_w1") / col("n_w2")), 6).as("pmi"))
      .orderBy(col("n").desc, col("w1"), col("w2"))
  }

  val CmsDepth = 4      // CountMin rows (failure prob ~ e^-depth)
  val CmsWidth = 1024   // CountMin columns (overcount bound ~ N·e/width)
  val CmsTopK  = 20

  /** Oracle-gated COUNT-MIN SKETCH — frequency estimation in d×w = 4096
    * bounded counters, estimate and exact side by side so the output
    * shows the sketch's one-sided error (CMS never under-counts;
    * overcount ≤ N·e/w per row with prob 1−e^−d). Complements
    * [[Sketches.heavyHitters]] (Spark's built-in CountMinSketch, spec-
    * bound): the hash family here is md5-derived, so the ENTIRE sketch —
    * cell counts included — is reproduced bit-for-bit by the DuckDB
    * oracle and driver-gated, the cross-engine-deterministic sketch
    * discipline q38_hll uses for cardinality applied to frequency.
    *
    * Plan: one tokenize pass emits each token's d (row, cell) pairs via
    * posexplode — map-only ×d fan-out — and ONE grouped count with
    * map-side combine collapses them to ≤4096 cells, so the shuffle
    * carries the sketch, never tokens. Candidates (the exact top-k,
    * the demo's error gauge) probe the sketch via a broadcast-sized
    * join on (row, cell), min across rows.
    *
    * Scale: the sketch size is scale-INVARIANT — at 100 TB the same
    * 4096 counters absorb the stream (counts grow, cells don't), the
    * per-partition partial aggregates stay 4096 rows each, and sketches
    * merge by cell-wise + across days/shards/streams exactly like
    * q38_hll's registers. A production heavy-hitter query would feed
    * candidates from a stream summary (e.g. per-partition local top-k),
    * not the exact count used here to measure error. */
  def cmsHeavyHitters(docs: DataFrame): DataFrame = {
    def cell(r: Int, w: Column): Column =
      conv(substring(md5(concat(lit(s"cms$r:"), w)), 1, 8), 16, 10)
        .cast("long") % CmsWidth
    def cells(w: Column): Column =
      posexplode(array((0 until CmsDepth).map(r => cell(r, w)): _*))
    val sketch = tokens(docs)
      .select(cells(col("word")).as(Seq("r", "c")))
      .groupBy("r", "c").agg(count(lit(1)).as("cnt"))
    val cand = wordCount(docs).limit(CmsTopK)
      .select(col("word"), col("cnt").as("exact_cnt"),
        cells(col("word")).as(Seq("r", "c")))
    broadcast(cand).join(sketch, Seq("r", "c"))
      .groupBy("word", "exact_cnt").agg(min(col("cnt")).as("est_cnt"))
      .select(col("word"), col("exact_cnt"), col("est_cnt"),
        (col("est_cnt") - col("exact_cnt")).as("overcount"))
      .orderBy(col("exact_cnt").desc, col("word"))
  }

  /** Per-document token count — the per-chunk in-mapper combiner shape
    * (each mapper's `IntermediateTokens` size, core/map_reduce.go:546). */
  def perDocCounts(docs: DataFrame): DataFrame =
    tokens(docs, col("doc_id"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), countDistinct(col("word")).as("n_distinct"))
      .orderBy("doc_id")

  import org.apache.spark.sql.SparkSession
  import graft.Tables

  /** Chunk width for `wc_chunked`. The reference uses CHUNK_SIZE=32768
    * (`core/utils.go:320-343`); 256 exercises the same boundary
    * semantics — a token crossing a chunk edge is split in two, exactly
    * as the reference's byte chunking splits it — at test corpus sizes. */
  val ChunkChars = 256

  /** The reference's FULL ingestion+count pipeline: chunkize, then
    * tokenize each chunk independently (`Map_parse_builtin` per chunk),
    * then global count+sort. Differs from [[wordCount]] only by the
    * reference's boundary-split artifact, which is part of its
    * semantics. */
  def chunkedWordCount(docs: DataFrame): DataFrame =
    wordCount(graft.sources.Sources.chunked(docs, ChunkChars)
      .withColumnRenamed("chunk", "text"))

  /** The reference's CROSS-FILE chunkized count (`wc_concat`, r8): the
    * full `core/utils.go:330-343` semantic — every document concatenated
    * into one stream in doc_id order (no separator), fixed-size slices,
    * each slice tokenized independently. Completes [[chunkedWordCount]]:
    * that key keeps per-document boundaries (the recommended shape);
    * this one reproduces the reference's cross-file token MERGES (last
    * word of doc i + first word of doc i+1) and global-offset SPLITS
    * exactly, via [[graft.sources.Sources.concatChunked]]'s distributed
    * prefix-sum — the concatenated stream is never materialized. */
  def concatWordCount(docs: DataFrame): DataFrame =
    wordCount(graft.sources.Sources.concatChunked(docs, ChunkChars)
      .withColumnRenamed("chunk", "text"))

  /** Chunk COUNT for `wc_chunked_n` — the reference's default config
    * (`configurations/config.json` WORKER_NUM_MAP = 5). */
  val NumChunksFixed = 5

  /** The reference's FIXED-CHUNK-NUM chunkized count (`wc_chunked_n`,
    * r9) — the `CHUNK_SIZE ≤ 0` branch (`core/utils.go:325-329`) that
    * the DEFAULT configuration runs: [[NumChunksFixed]] average-size
    * slices of the concatenated stream, remainder chars appended to the
    * LAST chunk, each slice tokenized independently. Closes the last
    * reference chunkize mode next to [[chunkedWordCount]]
    * (CHUNK_SIZE > 0, per-doc) and [[concatWordCount]] (CHUNK_SIZE > 0,
    * cross-file): same [[graft.sources.Sources.concatChunkedN]]
    * prefix-sum construction, different slice rule — the gate pins the
    * remainder-to-last-chunk boundary artifact. */
  def chunkedNWordCount(docs: DataFrame): DataFrame =
    wordCount(graft.sources.Sources.concatChunkedN(docs, NumChunksFixed)
      .withColumnRenamed("chunk", "text"))

  /** The reference's ACTUAL input path, driver-gated end to end: raw text
    * files on disk → splittable line scan → schema extraction → per-doc
    * chunkization → tokenize → count (`core/utils.go:320-343` →
    * `Map_parse_builtin`). The query first lays the corpus out as raw
    * text (one `<doc_id>\t<text>` line per document — the id prefix and
    * tab are non-letters, so they contribute ZERO tokens), then computes
    * the word count FROM THE FILES via [[graft.sources.Sources.textLines]],
    * so the verified plan starts at a text FileScan, not a parquet one.
    * `textLines` (not `wholetext`) is the 100 TB shape: line scans are
    * splittable, whole-file reads are not; the wholetext reader keeps its
    * own ScalaTest coverage. Shares the `wc_chunked` oracle — file
    * round-trip plus chunk-boundary semantics in one hash-match. */
  def filesWordCount(s: SparkSession, d: String): DataFrame = {
    val dir = graft.sources.Fixtures.dirFor("wc_files", d, "documents")
    if (!graft.sources.Fixtures.ready(dir)) {
      val docs = graft.Tables.documents(s, d)
      // one line per doc: a text containing \n would split into extra
      // lines and chunk at different offsets than the oracle — fail loud
      graft.sources.Fixtures.requireLineSafe(docs, "wc_files")
      docs.select(concat_ws("\t", col("doc_id"), col("text")))
        .write.mode("overwrite").text(dir)
    }
    val parsed = graft.sources.Sources.textLines(s, dir)
      .select(substring_index(col("line"), "\t", 1).cast("long").as("doc_id"),
        // substring AFTER the first tab — robust even if a text ever
        // contained a tab itself
        expr("substring(line, instr(line, '\t') + 1)").as("text"))
    chunkedWordCount(parsed)
  }

  val PostingsHead = 8

  /** INVERTED INDEX (`wc_inverted`) — the search-engine index build,
    * one of the three canonical MapReduce workloads (Dean & Ghemawat
    * 2004, alongside word count and grep — both also gated here): per
    * word, document frequency, collection frequency, and the head of
    * the sorted posting list (first [[PostingsHead]] doc_ids, joined to
    * a string so the gate hashes a scalar, not an array).
    *
    * Scale: ONE (word, doc) combiner-friendly count shuffle (the
    * wordcount shape keyed one level finer); postings aggregate from
    * the distinct (word, doc) table, so the collect is bounded by df —
    * and the emitted head is capped, the full list would be written as
    * the index segment itself, not collected. */
  def invertedIndex(docs: DataFrame): DataFrame =
    tokens(docs, col("doc_id"))
      .groupBy("word", "doc_id").agg(count(lit(1)).as("tf"))
      .groupBy("word")
      .agg(count(lit(1)).as("df"), sum("tf").as("cf"),
        array_join(
          transform(slice(array_sort(collect_list(col("doc_id"))), 1, PostingsHead),
            _.cast("string")), ",").as("postings_head"))
      .orderBy("word")

  /** Patterns for [[grep]] — constructs that parse identically in Java
    * regex and RE2 (the oracle-equivalence constraint `text_pii`
    * documents). */
  val GrepPatterns = Seq("scan", "jo.n", "str(eam|ing)")

  /** DISTRIBUTED GREP (`wc_grep`) — the third Dean & Ghemawat workload:
    * per pattern, matching-document count and total occurrence count
    * across the corpus. Map-only over the scan (each doc evaluates
    * every pattern — pattern count is a constant, so the fan-out is
    * bounded) into one tiny aggregate; a selective pattern at 100 TB
    * additionally pushes a `.contains` prefilter to the scan, which
    * Catalyst already does for the literal pattern here. */
  def grep(docs: DataFrame): DataFrame = {
    val perPattern = GrepPatterns.map { p =>
      docs.select(lit(p).as("pattern"),
        (regexp_count(col("text"), lit(p)) > 0).cast("long").as("m"),
        regexp_count(col("text"), lit(p)).cast("long").as("c"))
    }.reduce(_ unionAll _)
    perPattern.groupBy("pattern")
      .agg(sum("m").as("n_docs"), sum("c").as("n_matches"))
      .orderBy("pattern")
  }

  val TopTriangles = 20

  /** TRIANGLE COUNTING (`wc_triangles`) — graph analytics over the
    * word-ADJACENCY graph (nodes = words, undirected edges = distinct
    * within-document adjacent pairs): per-word triangle participation,
    * top [[TopTriangles]] — the clustering-coefficient numerator, the
    * community-structure primitive next to [[cooccur]]'s PMI and
    * TextAnalysis' TextRank.
    *
    * The technique is DEGREE ORIENTATION (Suri & Vassilvitskii 2011,
    * "the curse of the last reducer" — a MapReduce-era result, apt for
    * this engine's lineage): orient every undirected edge from its
    * lower-(degree, word) endpoint to the higher, enumerate wedges only
    * at each node's OUT-neighbors, close them against the oriented edge
    * set. Every triangle {x<y<z in the orientation order} is found
    * exactly once, as the wedge (y,z) at x. The point is the hub node:
    * a naive wedge count at a stopword with degree d materializes d²
    * pairs — orientation points every hub edge INTO the hub, so
    * out-degrees are bounded by O(√m) and the total wedge volume by
    * O(m^1.5), independent of how skewed the degree distribution is
    * (the Zipf token distribution makes this graph's hubs extreme by
    * construction).
    *
    * Scale: the edge set is DISTINCT adjacent pairs — bigram-vocabulary-
    * bounded, never corpus-sized; degrees and orientation are two
    * vocab-sized joins; the wedge self-join and the closure join are
    * both equi-joins on oriented src / (b, c) keys; top-k plans as
    * TakeOrdered. */
  def triangles(docs: DataFrame): DataFrame = {
    val ws = filter(split(col("text"), TokenRe), w => w =!= "")
    val n1 = greatest(size(ws) - 1, lit(0))
    // persisted: the oriented edge set feeds THREE consumers (wedge
    // sides o1/o2 and the closure probe) — without the cache each
    // branch re-tokenizes and re-deduplicates the whole corpus (the
    // wc_cooccur r7 lesson); the cache holds (u, v) pairs, never text
    val edges = docs.select(explode(zip_with(
        slice(ws, lit(1), n1), slice(ws, lit(2), n1),
        (a, b) => struct(least(a, b).as("u"), greatest(a, b).as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
      .persist()
    val deg = edges.select(explode(array(col("u"), col("v"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("dg"))
    // u < v lexicographically already, so (deg, word)-order ties on
    // equal degree resolve to u → src = u iff du <= dv
    val uFirst = edges
      .join(deg.select(col("w").as("u"), col("dg").as("du")), "u")
      .join(deg.select(col("w").as("v"), col("dg").as("dv")), "v")
      .select(col("u"), col("v"), (col("du") <= col("dv")).as("uf"),
        col("du"), col("dv"))
    val oriented = uFirst.select(
        when(col("uf"), col("u")).otherwise(col("v")).as("src"),
        when(col("uf"), col("v")).otherwise(col("u")).as("dst"),
        when(col("uf"), col("dv")).otherwise(col("du")).as("ddst"))
    val o1 = oriented.select(col("src"), col("dst").as("b"), col("ddst").as("db"))
    val o2 = oriented.select(col("src"), col("dst").as("c"), col("ddst").as("dc"))
    val tri = o1.join(o2, "src")
      .where(col("db") < col("dc") || (col("db") === col("dc") && col("b") < col("c")))
      .join(oriented.select(col("src").as("b"), col("dst").as("c")), Seq("b", "c"))
      .select(col("src").as("w1"), col("b").as("w2"), col("c").as("w3"))
    tri.select(explode(array(col("w1"), col("w2"), col("w3"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n_tri"))
      .orderBy(col("n_tri").desc, col("word"))
      .limit(TopTriangles)
  }

  /** BFS hop bound — fixed rounds keep the query deterministic and the
    * oracle's recursive CTE finitely bounded. */
  val BfsMaxHop = 4

  /** ONE-SCAN adjacency + vocabulary base for the graph family (r16).
    * Every word-graph operator needs BOTH the adjacent-word edge set
    * and the word-frequency vocabulary (seed word / node set /
    * unreached remainder), and each used to derive them from its OWN
    * corpus pass — two full text scans + two regex tokenizations per
    * query (guide §1.2: don't compute what you already computed). This
    * frame is ONE scan: each token emits (itself, its successor-or-NULL
    * — the doc's last token pairs with NULL), grouped to (w, nxt, n)
    * with n the pair's multiplicity, and pinned here, so
    * [[adjacentPairs]] and [[vocabOf]] both read one tokenization (not
    * a lazy `persist()`: two concurrent stages each fill a lazy cache,
    * tokenizing the corpus twice). Every token appears exactly once as `w`, so
    * [[vocabOf]]'s sum of n is byte-identical to the explode-words
    * count, and [[adjacentPairs]] is the distinct zip-sliced bigram
    * pair set — every consumer applies distinct or a group-by to it.
    * The caller frees it with [[graft.Cleanup.freeCheckpoint]]. */
  private def tokenPairs(docs: DataFrame): DataFrame = {
    val ws = filter(split(col("text"), TokenRe), w => w =!= "")
    docs.select(explode(zip_with(
        ws, slice(ws, lit(2), greatest(size(ws) - 1, lit(0))),
        (a, b) => struct(a.as("w"), b.as("nxt")))).as("t"))
      .groupBy(col("t.w").as("w"), col("t.nxt").as("nxt"))
      .agg(count(lit(1)).as("n"))
      .pinned
  }

  /** Directed adjacent-word pairs (u, v), distinct, self-pairs
    * dropped — the `und` frame every graph operator symmetrizes. */
  private def adjacentPairs(tp: DataFrame): DataFrame =
    tp.where(col("nxt").isNotNull && col("w") =!= col("nxt"))
      .select(col("w").as("u"), col("nxt").as("v"))

  /** (w, cnt) word frequencies from the [[tokenPairs]] frame. */
  private def vocabOf(tp: DataFrame): DataFrame =
    tp.groupBy("w").agg(sum("n").as("cnt"))

  /** The undirected word graph as distinct directed (src, dst) edges —
    * the (u, v) pairs and their reverses. */
  private def undirected(und: DataFrame): DataFrame =
    und.union(und.select(col("v").as("u"), col("u").as("v")))
      .distinct()
      .select(col("u").as("src"), col("v").as("dst"))

  /** BREADTH-FIRST SEARCH (`wc_bfs`) — level-synchronous BFS over the
    * undirected word-adjacency graph from the corpus's most frequent
    * word (ties lexicographic): per hop 0..[[BfsMaxHop]], the newly
    * reached word count and min/max word; unreached vocabulary appears
    * as hop −1 (the disconnected remainder). The frontier-expansion
    * pattern is the Pregel/GraphX iteration shape — the third member of
    * the graph family next to `wc_triangles`' wedge counting and
    * `text_textrank`'s fixpoint — and the BFS min-hop invariant holds
    * because each round's frontier anti-joins EVERYTHING already
    * visited.
    *
    * Scale: the edge set is distinct-bigram-bounded and persisted
    * (every round probes it); each round is ONE vocab-bounded equi-join
    * + distinct + anti-join — a Zipf hub inflates one round's join
    * fan-out but the DISTINCT collapses it to vocabulary size before
    * the next round; rounds are fixed at 4, not data-dependent. The
    * round state is the visited (word, hop) frame — vocabulary-bounded,
    * pinned per round by [[graft.Pin.rounds]]. The oracle is DuckDB's
    * `WITH RECURSIVE` — the declarative twin of the same traversal. */
  def bfs(docs: DataFrame): DataFrame = {
    val tp = tokenPairs(docs)
    val edges = undirected(adjacentPairs(tp)).persist()
    val vocab = vocabOf(tp)
    val seed = vocab.orderBy(col("cnt").desc, col("w")).limit(1)
      .select(col("w").as("word"), lit(0L).as("hop"))
    val res = Pin.rounds("wc_bfs", seed, BfsMaxHop) { (visited, h) =>
      // round h expands the hop h−1 frontier
      val frontier = visited.where(col("hop") === h - 1).select(col("word").as("src"))
      visited.union(edges.join(frontier, "src")
        .select(col("dst").as("word")).distinct()
        .join(visited.select("word"), Seq("word"), "left_anti")
        .select(col("word"), lit(h.toLong).as("hop")))
    } { visited =>
      val unreached = vocab.select(col("w").as("word"))
        .join(visited.select("word"), Seq("word"), "left_anti")
        .select(col("word"), lit(-1L).as("hop"))
      visited.union(unreached)
        .groupBy("hop")
        .agg(count(lit(1)).as("n_words"), min("word").as("w_min"), max("word").as("w_max"))
        .orderBy("hop")
    }
    Cleanup.freeCheckpoint(tp)
    edges.unpersist(false)
    res
  }

  /** BFS as a NATIVE RECURSIVE CTE (`wc_bfs_rec`, r10) — the same
    * bounded-hop traversal as [[bfs]], declared as Spark 4's
    * `WITH RECURSIVE` instead of a driver-side loop: Catalyst plans the
    * self-reference as a UnionLoop (one executor-side iteration
    * operator), so the traversal depth lives in the PLAN, not in
    * driver control flow — the declarative twin `wc_bfs`'s iterative
    * form, gated against the same oracle shape (DuckDB's recursion has
    * always been the oracle; now BOTH engines recurse).
    *
    * Honest scale caveat: Spark's recursion supports UNION ALL only
    * (UNION-dedup raises UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE), so the
    * recursion enumerates bounded WALKS, not visited vertices — the
    * min-hop aggregation after the loop restores BFS semantics exactly,
    * but on a dense graph the walk count grows ~degree^[[BfsMaxHop]].
    * The oracle dedups per level (UNION) and provably computes the same
    * min-hop set. [[bfs]]'s per-round frontier DISTINCT is the
    * scale-safe production form; this key gates the recursive-plan
    * SURFACE (and stays cheap here because the walk fan-out is
    * vocabulary-bounded). */
  def bfsRecursive(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    val tp = tokenPairs(docs)
    val und = adjacentPairs(tp)
    und.union(und.select(col("v").as("u"), col("u").as("v"))).distinct()
      .select(col("u").as("src"), col("v").as("dst"))
      .createOrReplaceTempView("g47_edges")
    val vocab = vocabOf(tp).select(col("w").as("word"), col("cnt"))
    vocab.createOrReplaceTempView("g47_vocab")
    vocab.orderBy(col("cnt").desc, col("word")).limit(1)
      .select("word").createOrReplaceTempView("g47_seed")
    val res = s.sql(s"""
      WITH RECURSIVE reach(word, hop) AS (
        SELECT word, 0 FROM g47_seed
        UNION ALL
        SELECT e.dst, r.hop + 1
        FROM reach r JOIN g47_edges e ON e.src = r.word
        WHERE r.hop < $BfsMaxHop),
      mh AS (SELECT word, min(hop) AS hop FROM reach GROUP BY word),
      allw AS (
        SELECT word, hop FROM mh
        UNION ALL
        SELECT v.word, -1 AS hop
        FROM g47_vocab v LEFT ANTI JOIN mh ON v.word = mh.word)
      SELECT CAST(hop AS BIGINT) AS hop, count(*) AS n_words,
        min(word) AS w_min, max(word) AS w_max
      FROM allw GROUP BY hop ORDER BY hop""").pinned
    // the views read tp, whose blocks are freed next
    Seq("g47_edges", "g47_vocab", "g47_seed").foreach(s.catalog.dropTempView)
    Cleanup.freeCheckpoint(tp)
    res
  }

  /** Bellman-Ford relaxation rounds — fixed like [[BfsMaxHop]]: the key
    * gates bounded-hop cheapest paths (≤ [[SsspRounds]] edges), keeping
    * the plan depth static and the oracle finitely unrollable. */
  val SsspRounds = 4
  /** Edge weights span [1, [[SsspWgtMod]]] — wide enough that a 2-hop
    * path can undercut a heavy direct edge (the property that separates
    * SSSP from BFS, spec-pinned). */
  val SsspWgtMod = 9

  /** WEIGHTED SINGLE-SOURCE SHORTEST PATHS (`wc_sssp`, r10) — the
    * weighted member of the graph family: [[bfs]] counts HOPS, this
    * relaxes COSTS, and the two disagree exactly when a multi-edge
    * detour is cheaper than a heavy direct edge. Synchronous
    * Bellman-Ford over the same undirected word-adjacency graph from
    * the same most-frequent-word seed: [[SsspRounds]] rounds of
    * dist(v) ← min(dist(v), min over edges (u,v) of dist(u)+w(u,v)),
    * i.e. cheapest cost over paths of ≤ 4 edges. Edge weights derive
    * deterministically from the edge's unordered endpoints
    * (1 + h32("sssp", u·' '·v) mod [[SsspWgtMod]] on the least/greatest
    * ordering — symmetric by construction, standing in for a
    * co-occurrence-strength weight file that would ship the same way).
    * Output: the 50 cheapest-reached words by (dist, word) — all
    * integer, total order.
    *
    * Scale: the Pregel/GraphX message-min iteration — per round ONE
    * vocab-bounded equi-join of the persisted weighted edge set against
    * the current distance frame, then a MIN aggregate (commutative,
    * associative, map-side combinable — a Zipf hub's fan-in collapses
    * in the combiner, never concentrating rows on one reducer the way
    * an argmax-by-key join would). Distance frames are
    * vocabulary-bounded. Rounds fixed, no driver-side convergence loop.
    * The oracle unrolls the identical rounds as min-union CTEs. */
  def sssp(docs: DataFrame): DataFrame = {
    val tp = tokenPairs(docs)
    val wgt = lit(1) + Dedup.h32(lit("sssp"),
      concat(least(col("src"), col("dst")), lit(" "), greatest(col("src"), col("dst")))) % SsspWgtMod
    val edges = undirected(adjacentPairs(tp))
      .select(col("src"), col("dst"), wgt.cast("long").as("w"))
      .persist()
    val seed = vocabOf(tp)
      .orderBy(col("cnt").desc, col("w")).limit(1)
      .select(col("w").as("word"), lit(0L).as("dist"))
    val res = Pin.rounds("wc_sssp", seed, SsspRounds) { (dist, _) =>
      val relaxed = edges.join(dist.select(col("word").as("src"), col("dist")), "src")
        .select(col("dst").as("word"), (col("dist") + col("w")).as("dist"))
      dist.unionAll(relaxed).groupBy("word").agg(min("dist").as("dist"))
    } (_.orderBy(col("dist"), col("word")).limit(50))
    Cleanup.freeCheckpoint(tp)
    edges.unpersist(false)
    res
  }

  /** k-core threshold: vertices with fewer surviving neighbors peel. */
  val KCoreK = 3
  /** Peel rounds — fixed (the [[LpaRounds]] static-plan-depth rule), so
    * the key gates the 4-ROUND PEEL, not the converged core: a vertex
    * whose degree drops below K only in round 5 survives, identically
    * on both engines. */
  val KCoreRounds = 4

  /** K-CORE PEELING (`wc_kcore`, r10) — the graph family's DENSITY
    * member (triangles count local structure, BFS/SSSP traverse, LPA/CC
    * partition; the k-core measures COHESION): iteratively remove
    * vertices with fewer than [[KCoreK]] neighbors in the SURVIVING
    * subgraph — the standard degeneracy peel (Matula & Beck 1983),
    * run for [[KCoreRounds]] synchronous rounds over the same
    * undirected word-adjacency graph as [[bfs]]/[[lpa]]. Output: the
    * 50 highest-degree survivors by (degree within the surviving
    * subgraph, desc; word) — all integer, total order.
    *
    * Scale: per round TWO vocab-keyed semi-joins of the persisted edge
    * set against the alive frame (src alive ∧ dst alive) + one
    * combiner-friendly degree count; alive frames are vocabulary-
    * bounded and shrink monotonically; rounds fixed → static plan
    * depth. The oracle unrolls the identical rounds as CTEs. */
  def kcore(docs: DataFrame): DataFrame = {
    // DELIBERATELY NOT the r16 single-scan base (r17, VERDICT r16 #5,
    // measured): the symmetrize union's two branches DO each re-derive
    // the tokenization from `docs`, but kcore has no vocabulary
    // consumer, so fixing that means caching the pair frame itself —
    // and both cached variants measured WORSE than the second regex
    // pass at bench scale (isolated min-of-3 adjacent A/B: 3.94 s
    // as-is vs 4.54 s with the adjacent-pair frame persisted; the
    // tokenPairs-persisted variant read 3.99–5.20 s across noisier
    // subset pairs — the cache write out-costs the saved scan).
    // The r16 base stays where the vocab consumer ALSO needs the frame
    // (bfs/bfs_rec/sssp/lpa/cc); here the duplicate scan is the
    // measured-cheaper shape, and the first exchange bounds it.
    val ws = filter(split(col("text"), TokenRe), w => w =!= "")
    val n1 = greatest(size(ws) - 1, lit(0))
    val und = docs.select(explode(zip_with(
        slice(ws, lit(1), n1), slice(ws, lit(2), n1),
        (a, b) => struct(a.as("u"), b.as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .where(col("u") =!= col("v"))
    val edges = undirected(und).persist()
    def degrees(alive: DataFrame): DataFrame = edges
      .join(alive.select(col("word").as("src")), "src")
      .join(alive.select(col("word").as("dst")), "dst")
      .groupBy("src").agg(count(lit(1)).as("deg"))
    val res = Pin.rounds("wc_kcore", edges.select(col("src").as("word")).distinct(), KCoreRounds) {
      (alive, _) => degrees(alive).where(col("deg") >= KCoreK).select(col("src").as("word"))
    } {
      degrees(_)
        .select(col("src").as("word"), col("deg"))
        .orderBy(col("deg").desc, col("word"))
        .limit(50)
    }
    edges.unpersist(false)
    res
  }

  /** MINIMUM SPANNING FOREST via BORŮVKA (`wc_mst`, r10) — the
    * weighted-OPTIMIZATION member of the graph family ([[sssp]] relaxes
    * paths; this selects the globally cheapest connecting structure —
    * the backbone-extraction / single-linkage-clustering primitive),
    * over the SAME weighted word graph as `wc_sssp` (same "sssp" md5
    * weights on the least/greatest endpoint ordering — one weighted
    * graph, two operators). Two synchronous Borůvka rounds (1926; the
    * parallel-MST algorithm precisely because each round is one
    * argmin-per-key aggregate): round 1 — every VERTEX picks its
    * minimum incident edge by the total order (w, a, b); the picked
    * edges form a forest (≥ half the MST, the classic guarantee);
    * round 2 — components CONTRACT (the [[components]] star-contraction,
    * min-label) and every COMPONENT picks its minimum outgoing edge.
    * Rounds fixed at 2 (the [[LpaRounds]] static-plan-depth rule): the
    * key gates the two-round FOREST, not the converged MST — a third
    * round is this same shape again. Output: every forest edge
    * (round, a, b, w), totally ordered and pinned, so the edge set,
    * the round-1 forest and the CC roots are freed here.
    *
    * Distinct-edge tie safety: weights collide (mod [[SsspWgtMod]]),
    * so the argmin orders by the FULL edge identity (w, a, b) — both
    * engines pick the identical edge, and the distinct collapse (both
    * endpoints choosing the same edge) is exact.
    *
    * Scale: per round one vocab-keyed argmin as min(struct(w, a, b)) —
    * commutative/associative, MAP-SIDE COMBINABLE, so a Zipf hub's or a
    * giant component's edge fan-in collapses in the combiner (the same
    * argument the `wc_sssp` scaladoc makes for its MIN; an argmin
    * WINDOW would shuffle the key's whole edge list into one
    * partition) — the contraction is
    * the O(log²)-round star machinery already gated on billion-node
    * dedup graphs, and all frames are vocabulary/distinct-bigram
    * bounded (Zipf: ≪ corpus). The oracle mirrors round 1 and 2
    * verbatim with the recursive min-reachable closure standing in for
    * the contraction. */
  def mst(docs: DataFrame): DataFrame = {
    val ws = filter(split(col("text"), TokenRe), w => w =!= "")
    val n1 = greatest(size(ws) - 1, lit(0))
    val und = docs.select(explode(zip_with(
        slice(ws, lit(1), n1), slice(ws, lit(2), n1),
        (a, b) => struct(a.as("u"), b.as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .where(col("u") =!= col("v"))
    val edges = und
      .select(least(col("u"), col("v")).as("a"), greatest(col("u"), col("v")).as("b"))
      .distinct()
      .withColumn("w", (lit(1) + Dedup.h32(lit("sssp"),
        concat(col("a"), lit(" "), col("b"))) % SsspWgtMod).cast("long"))
      .persist()
    // argmin edge per key by the total order (w, a, b): min(struct) is
    // commutative/associative → MAP-SIDE COMBINABLE, so a Zipf hub's
    // (round 1) or a giant component's (round 2) full edge fan-in
    // collapses in the combiner instead of shuffling into one
    // row_number window partition — identical winner under the same
    // total order (struct comparison is lexicographic by field). Both
    // endpoints picking the same edge collapse in the distinct.
    def pick(keyed: DataFrame): DataFrame =
      keyed.groupBy("k")
        .agg(min(struct(col("w"), col("a"), col("b"))).as("m"))
        .select(col("m.a").as("a"), col("m.b").as("b"), col("m.w").as("w"))
        .distinct()
    val inc = edges.select(col("a").as("k"), col("a"), col("b"), col("w"))
      .unionAll(edges.select(col("b").as("k"), col("a"), col("b"), col("w")))
    val f1 = pick(inc).persist()
    val nodes = edges.select(col("a").as("doc_id"))
      .unionAll(edges.select(col("b").as("doc_id"))).distinct()
    val comp = Dedup.connectedComponents(nodes,
        f1.select(col("a").as("doc_a"), col("b").as("doc_b")))
      .select(col("doc_id"), col("cluster_id"))
    val ec = edges
      .join(comp.select(col("doc_id").as("a"), col("cluster_id").as("ca")), "a")
      .join(comp.select(col("doc_id").as("b"), col("cluster_id").as("cb")), "b")
      .where(col("ca") =!= col("cb"))
    val inc2 = ec.select(col("ca").as("k"), col("a"), col("b"), col("w"))
      .unionAll(ec.select(col("cb").as("k"), col("a"), col("b"), col("w")))
    val f2 = pick(inc2)
    val res = f1.withColumn("round", lit(1L))
      .unionAll(f2.withColumn("round", lit(2L)))
      .select(col("round"), col("a"), col("b"), col("w"))
      .orderBy("round", "w", "a", "b")
      .pinned
    edges.unpersist(false)
    f1.unpersist(false)
    Cleanup.freePins(comp) // the CC roots, read only by res
    res
  }

  /** LPA round count — fixed so the plan depth is static and the
    * oracle's unrolled CTE chain stays finite. */
  val LpaRounds = 3

  /** LABEL PROPAGATION community detection (`wc_lpa`) — synchronous LPA
    * (Raghavan, Albert & Kumara 2007) over the undirected word-adjacency
    * graph: every word starts as its own label; each round every node
    * adopts the most frequent label among its NEIGHBORS
    * (tie → lexicographically greatest label — a total order, so every
    * round is deterministic); after [[LpaRounds]] rounds, communities
    * aggregate to (label, size, min/max member), top-50 by (size desc,
    * label). The fourth graph-family member: `wc_triangles` counts
    * local structure, `wc_bfs` traverses it, `text_textrank` scores
    * nodes, LPA PARTITIONS the graph.
    *
    * Per round ([[labelPropagation]]): ONE vocab-keyed equi-join of the
    * persisted edge set against the current label frame + two
    * combiner-friendly aggregates (label counts, then one
    * lexicographic struct-max argmax) — every frame is
    * VOCABULARY-bounded (Zipf: ≪ corpus), and the edge set
    * (distinct-bigram-bounded) is persisted once for all rounds, the
    * `wc_triangles` cache-boundary rule. A stopword hub inflates one
    * round's neighbor-label fan-out linearly in its degree — never
    * quadratically (labels aggregate before the argmax). Isolated words
    * keep their label. Rounds are fixed, not data-dependent: plan depth
    * is static, no driver-side convergence loop. The oracle unrolls the identical three rounds as CTEs —
    * argmax expressed as the explicit two-stage max-count-then-max-label
    * (equivalent to the struct max by lexicographic order), so neither
    * engine leans on an unspecified arg_max tie-break. */
  def lpa(docs: DataFrame): DataFrame = {
    val tp = tokenPairs(docs)
    val edges = undirected(adjacentPairs(tp)).persist()
    val nodes = tp.select(col("w").as("node")).distinct()
    val res = labelPropagation(edges, nodes, LpaRounds, "wc_lpa") {
      _.groupBy("label")
        .agg(count(lit(1)).as("n_words"), min("node").as("w_min"), max("node").as("w_max"))
        .orderBy(col("n_words").desc, col("label"))
        .limit(50)
    }
    Cleanup.freeCheckpoint(tp)
    edges.unpersist(false)
    res
  }

  /** Synchronous label propagation — the one LPA round body, shared by
    * [[lpa]] and `Similarity.graphClusters`: every node of `nodes`
    * (node) starts as its own label; each of `rounds` rounds it adopts
    * the most frequent label among its neighbors over the directed
    * `edges` (src, dst) — ties by greatest label — and an isolated node
    * keeps its label. Every edge endpoint must be a node. Rounds run
    * through [[graft.Pin.rounds]] under `tag`; the result is `summary`
    * over the final (node, label) frame, pinned. The caller owns
    * `edges`. */
  private[graft] def labelPropagation(edges: DataFrame, nodes: DataFrame, rounds: Int,
                                      tag: String)(summary: DataFrame => DataFrame): DataFrame =
    Pin.rounds(tag, nodes.select(col("node"), col("node").as("label")), rounds) { (labels, _) =>
      val votes = edges
        .join(labels.select(col("node").as("dst"), col("label")), "dst")
        .groupBy(col("src").as("node"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      // argmax in ONE aggregate: max over (cnt, label) structs is
      // lexicographic — greatest count, ties by greatest label — exactly
      // the published two-stage max-count-then-max-label pick. The
      // node's own label joins the vote at count 0, so any neighbor
      // vote (count ≥ 1) beats it and an isolated node keeps it: no
      // join back onto the label frame, and no exchange for one. The
      // oracles spell it as the two-stage CTE plus that left join; the
      // hash gate re-proves the equivalence every run.
      votes.unionAll(labels.select(col("node"), col("label"), lit(0L).as("cnt")))
        .groupBy("node")
        .agg(max(struct(col("cnt"), col("label"))).getField("label").as("label"))
    }(summary)

  /** CONNECTED COMPONENTS of the word-adjacency graph (`wc_cc`) — the
    * fifth and final graph-family member (triangles count structure,
    * BFS traverses, LPA partitions heuristically, TextRank scores; CC
    * partitions EXACTLY): every word labeled with the lexicographic
    * minimum of its component, components summarized to (label, size,
    * min/max member), top-50 by (size desc, label).
    *
    * The machinery is [[graft.operators.Dedup.connectedComponents]] —
    * the large-star/small-star O(log²) contraction already gated on
    * doc-id graphs — applied UNCHANGED to string vertices (the
    * contraction only needs a total order, and min/least on strings is
    * one; that genericity is itself the point of having ONE CC
    * implementation). Edge set distinct-bigram-bounded: at gate scale
    * it fits one task, so union-find finishes it with no star round
    * (see the Dedup scaladoc). The result is pinned so the token base
    * and the CC roots can be freed. The oracle is the same recursive
    * min-reachable closure `dedup_cluster` uses, over word edges. */
  def components(docs: DataFrame): DataFrame = {
    val tp = tokenPairs(docs)
    // already distinct (directed) rows; CC reads each pair undirected
    val pairs = adjacentPairs(tp).toDF("doc_a", "doc_b")
    val nodes = tp.select(col("w").as("doc_id")).distinct()
    val cc = Dedup.connectedComponents(nodes, pairs)
    val res = cc
      .groupBy(col("cluster_id").as("label"))
      .agg(count(lit(1)).as("n_words"),
        min("doc_id").as("w_min"), max("doc_id").as("w_max"))
      .orderBy(col("n_words").desc, col("label"))
      .limit(50)
      .pinned
    Cleanup.freePins(cc) // tp and the CC roots, both read only by res
    res
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "wc_cc"        -> ((s, d) => components(Tables.documents(s, d))),
    "wc_wordcount" -> ((s, d) => wordCount(Tables.documents(s, d))),
    "wc_topk"      -> ((s, d) => topK(Tables.documents(s, d), 50)),
    "wc_route"     -> ((s, d) => routeCounts(Tables.documents(s, d))),
    "wc_routecost" -> ((s, d) => routeCostMatrix(Tables.documents(s, d))),
    "wc_place"     -> ((s, d) => placement(Tables.documents(s, d))),
    "wc_distinct"  -> ((s, d) => distinctPerLang(Tables.documents(s, d))),
    "wc_lengths"   -> ((s, d) => lengthHistogram(Tables.documents(s, d))),
    "wc_per_doc"   -> ((s, d) => perDocCounts(Tables.documents(s, d))),
    "wc_chunked"   -> ((s, d) => chunkedWordCount(Tables.documents(s, d))),
    "wc_concat"    -> ((s, d) => concatWordCount(Tables.documents(s, d))),
    "wc_chunked_n" -> ((s, d) => chunkedNWordCount(Tables.documents(s, d))),
    "wc_files"     -> ((s, d) => filesWordCount(s, d)),
    "wc_bigrams"   -> ((s, d) => bigramCount(Tables.documents(s, d))),
    "wc_cooccur"   -> ((s, d) => cooccur(Tables.documents(s, d))),
    "wc_cms"       -> ((s, d) => cmsHeavyHitters(Tables.documents(s, d))),
    "wc_triangles" -> ((s, d) => triangles(Tables.documents(s, d))),
    "wc_inverted"  -> ((s, d) => invertedIndex(Tables.documents(s, d))),
    "wc_grep"      -> ((s, d) => grep(Tables.documents(s, d))),
    "wc_bfs"       -> ((s, d) => bfs(Tables.documents(s, d))),
    "wc_bfs_rec"   -> ((s, d) => bfsRecursive(Tables.documents(s, d))),
    "wc_sssp"      -> ((s, d) => sssp(Tables.documents(s, d))),
    "wc_kcore"     -> ((s, d) => kcore(Tables.documents(s, d))),
    "wc_mst"       -> ((s, d) => mst(Tables.documents(s, d))),
    "wc_lpa"       -> ((s, d) => lpa(Tables.documents(s, d))),
  )

  /** DuckDB words-array fragment — same `\p{L}` pattern as [[TokenRe]];
    * shared by every oracle that tokenizes. */
  val OracleWords: String =
    s"list_filter(regexp_split_to_array(text, '$TokenRe'), w -> w <> '')"

  /** The `wc_concat` chunkize CTE chain (offs → pieces → chunks):
    * global prefix offsets, overlapped pieces, reassembled global
    * chunks at [[ChunkChars]] — the `wc_concat` oracle's chunk model
    * (`wc_place` moved to [[concatChunksNSql]], the default-config
    * model, in r10). Emits `chunks(chunk_no, text)`. */
  private val concatChunksSql: String =
    s"""offs AS (
       |  SELECT doc_id, text, length(text)::BIGINT AS len,
       |    COALESCE(SUM(length(text)::BIGINT) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
       |  FROM documents),
       |pieces AS (
       |  SELECT k AS chunk_no, off,
       |    substr(text,
       |      CAST(GREATEST(k * $ChunkChars, off) - off + 1 AS BIGINT),
       |      CAST(LEAST((k + 1) * $ChunkChars, off + len)
       |           - GREATEST(k * $ChunkChars, off) AS BIGINT)) AS piece
       |  FROM offs, unnest(range(CAST(off // $ChunkChars AS BIGINT),
       |                          CAST((off + len - 1) // $ChunkChars + 1 AS BIGINT))) AS u(k)
       |  WHERE len > 0),
       |chunks AS (
       |  SELECT chunk_no, string_agg(piece, '' ORDER BY off) AS text
       |  FROM pieces GROUP BY chunk_no)""".stripMargin

  /** The fixed-COUNT chunkize CTE chain (offs → tot → pieces → chunks):
    * cs = total div [[NumChunksFixed]], uniform slices, remainder to the
    * LAST chunk — the `CHUNK_SIZE ≤ 0` default-config path
    * (`core/utils.go:325-329`, 339-341). Shared verbatim by the
    * `wc_chunked_n` and `wc_place` oracles (r10 — placement now runs on
    * the chunk model the default config actually produces). Emits
    * `chunks(chunk_no, text)`. */
  private val concatChunksNSql: String =
    s"""offs AS (
       |  SELECT doc_id, text, length(text)::BIGINT AS len,
       |    CAST(COALESCE(SUM(length(text)::BIGINT) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
       |  FROM documents),
       |tot AS (SELECT CAST(COALESCE(SUM(length(text)::BIGINT), 0) AS BIGINT) AS tot,
       |               CAST(COALESCE(SUM(length(text)::BIGINT), 0) // $NumChunksFixed
       |                    AS BIGINT) AS cs
       |        FROM documents),
       |pieces AS (
       |  SELECT k AS chunk_no, off,
       |    substr(text,
       |      CAST(GREATEST(k * cs, off) - off + 1 AS BIGINT),
       |      CAST(LEAST(CASE WHEN k = $NumChunksFixed - 1 THEN tot ELSE (k + 1) * cs END,
       |                 off + len)
       |           - GREATEST(k * cs, off) AS BIGINT)) AS piece
       |  FROM offs, tot,
       |    unnest(range(
       |      CASE WHEN cs = 0 THEN ${NumChunksFixed - 1}
       |           ELSE LEAST(off // cs, ${NumChunksFixed - 1}) END,
       |      CASE WHEN cs = 0 THEN $NumChunksFixed
       |           ELSE LEAST((off + len - 1) // cs, ${NumChunksFixed - 1}) + 1 END)) AS u(k)
       |  WHERE len > 0),
       |chunks AS (
       |  SELECT chunk_no, string_agg(piece, '' ORDER BY off) AS text
       |  FROM pieces GROUP BY chunk_no)""".stripMargin

  /** DuckDB text of [[reducerOf]] over any word expression. */
  private def reducerSql(w: String): String =
    s"""CAST((coalesce(list_sum(list_transform(range(0, length($w)),
       |        i -> strlen(substr($w, 1, CAST(i AS INTEGER))))), 0)
       |      + $ExtraShuffle) % $RouteReducers AS BIGINT)""".stripMargin

  private[operators] val TokensSql =
    s"""SELECT doc_id, lang, word FROM (
      |  SELECT doc_id, lang, unnest(regexp_split_to_array(text, '$TokenRe')) AS word
      |  FROM documents) t WHERE word <> ''""".stripMargin

  /** Shared by `wc_bfs` (iterative Spark loop) and `wc_bfs_rec`
    * (Spark's native recursive CTE): one traversal semantic, two
    * execution strategies, one oracle. */
  private val BfsOracleSql: String =
    s"""WITH RECURSIVE pairs AS (
       |  SELECT w[i] AS u, w[i + 1] AS v
       |  FROM (SELECT $OracleWords AS w FROM documents) ws,
       |    unnest(range(1, len(w))) AS t(i)
       |  WHERE w[i] <> w[i + 1]),
       |edges AS (
       |  SELECT DISTINCT u AS src, v AS dst FROM (
       |    SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs) b),
       |tk AS (SELECT word FROM ($TokensSql) q),
       |seed AS (
       |  SELECT word FROM (SELECT word, count(*) AS cnt FROM tk GROUP BY word) c
       |  ORDER BY cnt DESC, word LIMIT 1),
       |bfs AS (
       |  SELECT word, 0 AS hop FROM seed
       |  UNION
       |  SELECT e.dst, b.hop + 1 FROM bfs b JOIN edges e ON e.src = b.word
       |  WHERE b.hop < $BfsMaxHop),
       |mh AS (SELECT word, min(hop) AS hop FROM bfs GROUP BY word),
       |allw AS (
       |  SELECT word, hop FROM mh
       |  UNION ALL
       |  SELECT word, -1 AS hop FROM (SELECT DISTINCT word FROM tk) v
       |  WHERE word NOT IN (SELECT word FROM mh))
       |SELECT hop::BIGINT AS hop, count(*)::BIGINT AS n_words,
       |  min(word) AS w_min, max(word) AS w_max
       |FROM allw GROUP BY hop ORDER BY hop""".stripMargin

  val oracle: Map[String, String] = Map(
    "wc_wordcount" ->
      s"""SELECT word, count(*) AS cnt FROM ($TokensSql) tk
         |GROUP BY word ORDER BY cnt DESC, word""".stripMargin,
    // HashKeyReducerSum mirrored exactly, Go range-over-string quirk
    // included: sum of rune BYTE OFFSETS (strlen of each i-char
    // prefix), + 96, mod 3
    "wc_route" ->
      s"""WITH wcg AS (
         |  SELECT word, count(*) AS cnt FROM ($TokensSql) tk GROUP BY word),
         |rt AS (
         |  SELECT cnt, ${reducerSql("word")} AS reducer
         |  FROM wcg)
         |SELECT reducer, count(*) AS n_words, CAST(sum(cnt) AS BIGINT) AS n_tokens
         |FROM rt GROUP BY reducer ORDER BY reducer""".stripMargin,
    // per-mapper combiner (chunk-distinct words) × estimateTokenSize
    // (strlen+4) routed by the same hash — the Map2ReduceRouteCost
    // matrix summed over mappers
    "wc_routecost" ->
      s"""WITH cw AS (
         |  SELECT DISTINCT doc_id, i AS chunk_no, word FROM (
         |    SELECT doc_id, i, unnest(regexp_split_to_array(
         |      substr(text, i * $ChunkChars + 1, $ChunkChars), '$TokenRe')) AS word
         |    FROM documents,
         |      unnest(range(0, CAST(ceil(length(text) / $ChunkChars.0) AS BIGINT))) AS u(i)
         |  ) t WHERE word <> ''),
         |rt AS (
         |  SELECT ${reducerSql("word")} AS reducer,
         |    strlen(word) + 4 AS cost
         |  FROM cw)
         |SELECT reducer, CAST(sum(cost) AS BIGINT) AS route_cost,
         |  count(*) AS route_num
         |FROM rt GROUP BY reducer ORDER BY reducer""".stripMargin,
    "wc_topk" ->
      s"""SELECT word, count(*) AS cnt FROM ($TokensSql) tk
         |GROUP BY word ORDER BY cnt DESC, word LIMIT 50""".stripMargin,
    "wc_distinct" ->
      s"""SELECT lang, count(*) AS n_distinct FROM (
         |  SELECT DISTINCT lang, word FROM ($TokensSql) tk) d
         |GROUP BY lang ORDER BY lang""".stripMargin,
    "wc_lengths" ->
      s"""SELECT length(word) AS wlen, count(*) AS cnt FROM ($TokensSql) tk
         |GROUP BY 1 ORDER BY wlen""".stripMargin,
    "wc_per_doc" ->
      s"""SELECT doc_id, count(*) AS n_tokens, count(DISTINCT word) AS n_distinct
         |FROM ($TokensSql) tk GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "wc_inverted" ->
      s"""SELECT word, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf,
         |  array_to_string(
         |    list_transform(list_sort(array_agg(doc_id))[1:$PostingsHead],
         |      v -> CAST(v AS VARCHAR)), ',') AS postings_head
         |FROM (SELECT word, doc_id, count(*) AS tf
         |      FROM ($TokensSql) tk GROUP BY 1, 2) t
         |GROUP BY word ORDER BY word""".stripMargin,
    "wc_grep" ->
      s"""SELECT pattern, CAST(sum(m) AS BIGINT) AS n_docs,
         |  CAST(sum(c) AS BIGINT) AS n_matches
         |FROM (
         |  SELECT p.pattern,
         |    CASE WHEN len(regexp_extract_all(text, p.pattern)) > 0 THEN 1 ELSE 0 END AS m,
         |    len(regexp_extract_all(text, p.pattern)) AS c
         |  FROM documents, (SELECT unnest([${GrepPatterns.map(p => s"'$p'").mkString(", ")}]) AS pattern) p) t
         |GROUP BY pattern ORDER BY pattern""".stripMargin,
    // the dedup_cluster closure on word edges: min reachable word ==
    // the min-label fixpoint the star contraction converges to
    "wc_cc" ->
      s"""WITH RECURSIVE pairs AS (
         |  SELECT w[i] AS u, w[i + 1] AS v
         |  FROM (SELECT $OracleWords AS w FROM documents) ws,
         |    unnest(range(1, len(w))) AS t(i)
         |  WHERE w[i] <> w[i + 1]),
         |edges AS (
         |  SELECT DISTINCT u AS src, v AS dst FROM (
         |    SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs) b),
         |nodes AS (SELECT DISTINCT word FROM ($TokensSql) tk),
         |reach AS (
         |  SELECT word AS node, word AS r FROM nodes
         |  UNION
         |  SELECT re.node, e.dst FROM reach re JOIN edges e ON e.src = re.r),
         |cl AS (SELECT node, min(r) AS label FROM reach GROUP BY 1)
         |SELECT label, count(*)::BIGINT AS n_words,
         |  min(node) AS w_min, max(node) AS w_max
         |FROM cl GROUP BY 1
         |ORDER BY n_words DESC, label LIMIT 50""".stripMargin,
    // the identical three synchronous rounds unrolled as CTEs; argmax
    // as the same two-stage max-count-then-max-label in both engines
    "wc_lpa" -> {
      val rounds = (1 to LpaRounds).map { i =>
        val prev = s"l${i - 1}"
        s"""c$i AS (SELECT e.src AS node, l.label, count(*) AS cnt
           |  FROM edges e JOIN $prev l ON l.node = e.dst GROUP BY 1, 2),
           |m$i AS (SELECT node, max(cnt) AS mc FROM c$i GROUP BY 1),
           |p$i AS (SELECT c.node, max(c.label) AS nl
           |  FROM c$i c JOIN m$i m ON m.node = c.node AND c.cnt = m.mc GROUP BY 1),
           |l$i AS (SELECT l.node, COALESCE(p.nl, l.label) AS label
           |  FROM $prev l LEFT JOIN p$i p ON p.node = l.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH pairs AS (
         |  SELECT w[i] AS u, w[i + 1] AS v
         |  FROM (SELECT $OracleWords AS w FROM documents) ws,
         |    unnest(range(1, len(w))) AS t(i)
         |  WHERE w[i] <> w[i + 1]),
         |edges AS (
         |  SELECT DISTINCT u AS src, v AS dst FROM (
         |    SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs) b),
         |l0 AS (SELECT DISTINCT word AS node, word AS label FROM ($TokensSql) tk),
         |$rounds
         |SELECT label, count(*)::BIGINT AS n_words,
         |  min(node) AS w_min, max(node) AS w_max
         |FROM l$LpaRounds GROUP BY 1
         |ORDER BY n_words DESC, label LIMIT 50""".stripMargin
    },
    // the identical Bellman-Ford rounds unrolled as min-union CTEs;
    // same md5 edge weights on the least/greatest endpoint ordering
    "wc_sssp" -> {
      val rounds = (1 to SsspRounds).map { i =>
        val prev = s"d${i - 1}"
        s"""d$i AS (SELECT word, min(dist) AS dist FROM (
           |  SELECT word, dist FROM $prev
           |  UNION ALL
           |  SELECT e.dst AS word, p.dist + e.w AS dist
           |  FROM $prev p JOIN edges e ON e.src = p.word) u GROUP BY word)""".stripMargin
      }.mkString(",\n")
      s"""WITH pairs AS (
         |  SELECT w[i] AS u, w[i + 1] AS v
         |  FROM (SELECT $OracleWords AS w FROM documents) ws,
         |    unnest(range(1, len(w))) AS t(i)
         |  WHERE w[i] <> w[i + 1]),
         |edges AS (
         |  SELECT src, dst,
         |    1 + ('0x' || substr(md5('sssp:' || least(src, dst) || ' ' || greatest(src, dst)), 1, 8))::BIGINT % $SsspWgtMod AS w
         |  FROM (SELECT DISTINCT u AS src, v AS dst FROM (
         |    SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs) b) e),
         |tk AS (SELECT word FROM ($TokensSql) q),
         |d0 AS (
         |  SELECT word, 0::BIGINT AS dist
         |  FROM (SELECT word, count(*) AS cnt FROM tk GROUP BY word) c
         |  ORDER BY cnt DESC, word LIMIT 1),
         |$rounds
         |SELECT word, CAST(dist AS BIGINT) AS dist FROM d$SsspRounds
         |ORDER BY dist, word LIMIT 50""".stripMargin
    },
    // Borůvka rounds 1 and 2 mirrored verbatim: per-vertex argmin, the
    // recursive min-reachable closure standing in for the contraction,
    // per-component argmin — same (w, a, b) total order both engines
    "wc_mst" ->
      s"""WITH RECURSIVE pairs AS (
         |  SELECT w[i] AS u, w[i + 1] AS v
         |  FROM (SELECT $OracleWords AS w FROM documents) ws,
         |    unnest(range(1, len(w))) AS t(i)
         |  WHERE w[i] <> w[i + 1]),
         |e AS (
         |  SELECT a, b,
         |    1 + ('0x' || substr(md5('sssp:' || a || ' ' || b), 1, 8))::BIGINT % $SsspWgtMod AS w
         |  FROM (SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b FROM pairs) d),
         |inc AS (SELECT a AS k, a, b, w FROM e UNION ALL SELECT b, a, b, w FROM e),
         |f1 AS (SELECT DISTINCT a, b, w FROM (
         |  SELECT k, a, b, w,
         |    row_number() OVER (PARTITION BY k ORDER BY w, a, b) AS rn
         |  FROM inc) t WHERE rn = 1),
         |und1 AS (SELECT a AS src, b AS dst FROM f1 UNION ALL SELECT b, a FROM f1),
         |vs AS (SELECT a AS word FROM e UNION SELECT b FROM e),
         |reach AS (
         |  SELECT word AS node, word AS r FROM vs
         |  UNION
         |  SELECT re.node, u.dst FROM reach re JOIN und1 u ON u.src = re.r),
         |comp AS (SELECT node, min(r) AS c FROM reach GROUP BY 1),
         |ec AS (
         |  SELECT e.a, e.b, e.w, ca.c AS ca, cb.c AS cb
         |  FROM e JOIN comp ca ON ca.node = e.a JOIN comp cb ON cb.node = e.b
         |  WHERE ca.c <> cb.c),
         |inc2 AS (SELECT ca AS k, a, b, w FROM ec UNION ALL SELECT cb, a, b, w FROM ec),
         |f2 AS (SELECT DISTINCT a, b, w FROM (
         |  SELECT k, a, b, w,
         |    row_number() OVER (PARTITION BY k ORDER BY w, a, b) AS rn
         |  FROM inc2) t WHERE rn = 1)
         |SELECT 1::BIGINT AS round, a, b, w FROM f1
         |UNION ALL SELECT 2::BIGINT, a, b, w FROM f2
         |ORDER BY round, w, a, b""".stripMargin,
    // the identical 4 synchronous peel rounds unrolled as CTEs; the
    // final degree is measured within the surviving subgraph (a
    // survivor with zero surviving neighbors emits no row — both
    // engines, by the same join)
    "wc_kcore" -> {
      val rounds = (1 to KCoreRounds).map { i =>
        val prev = s"a${i - 1}"
        s"""a$i AS (SELECT src AS word FROM edges
           |  JOIN $prev p1 ON p1.word = edges.src
           |  JOIN $prev p2 ON p2.word = edges.dst
           |  GROUP BY src HAVING count(*) >= $KCoreK)""".stripMargin
      }.mkString(",\n")
      s"""WITH pairs AS (
         |  SELECT w[i] AS u, w[i + 1] AS v
         |  FROM (SELECT $OracleWords AS w FROM documents) ws,
         |    unnest(range(1, len(w))) AS t(i)
         |  WHERE w[i] <> w[i + 1]),
         |edges AS (
         |  SELECT DISTINCT u AS src, v AS dst FROM (
         |    SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs) b),
         |a0 AS (SELECT DISTINCT src AS word FROM edges),
         |$rounds
         |SELECT src AS word, count(*) AS deg FROM edges
         |JOIN a$KCoreRounds f1 ON f1.word = edges.src
         |JOIN a$KCoreRounds f2 ON f2.word = edges.dst
         |GROUP BY src ORDER BY deg DESC, word LIMIT 50""".stripMargin
    },
    // the declarative twin of the level-synchronous traversal: a
    // recursive CTE bounded at BfsMaxHop, min-hop per word, unreached
    // vocabulary as hop -1
    "wc_bfs" -> BfsOracleSql,
    // wc_bfs_rec gates the SAME traversal (Spark recursing natively);
    // the oracle is identical — DuckDB's UNION-dedup recursion and
    // Spark's UNION ALL walk enumeration agree after min-hop
    "wc_bfs_rec" -> BfsOracleSql,
    // same degree orientation: src = lower (degree, word) endpoint,
    // wedge at src ordered by (ddst, dst), closed against oriented edges
    "wc_triangles" ->
      s"""WITH eg AS (
         |  SELECT DISTINCT least(w[i], w[i + 1]) AS u, greatest(w[i], w[i + 1]) AS v
         |  FROM (SELECT $OracleWords AS w FROM documents) ws,
         |    unnest(range(1, len(w))) AS t(i)
         |  WHERE w[i] <> w[i + 1]),
         |deg AS (SELECT w, count(*) AS dg FROM (
         |    SELECT u AS w FROM eg UNION ALL SELECT v FROM eg) e GROUP BY 1),
         |ori AS (SELECT
         |    CASE WHEN du.dg <= dv.dg THEN e.u ELSE e.v END AS src,
         |    CASE WHEN du.dg <= dv.dg THEN e.v ELSE e.u END AS dst,
         |    CASE WHEN du.dg <= dv.dg THEN dv.dg ELSE du.dg END AS ddst
         |  FROM eg e JOIN deg du ON du.w = e.u JOIN deg dv ON dv.w = e.v),
         |tri AS (SELECT o1.src AS w1, o1.dst AS w2, o2.dst AS w3
         |  FROM ori o1 JOIN ori o2 ON o1.src = o2.src
         |    AND (o1.ddst < o2.ddst OR (o1.ddst = o2.ddst AND o1.dst < o2.dst))
         |  JOIN ori o3 ON o3.src = o1.dst AND o3.dst = o2.dst)
         |SELECT word, count(*) AS n_tri FROM (
         |  SELECT w1 AS word FROM tri UNION ALL SELECT w2 FROM tri
         |  UNION ALL SELECT w3 FROM tri) t
         |GROUP BY word ORDER BY n_tri DESC, word LIMIT $TopTriangles""".stripMargin,
    "wc_bigrams" ->
      s"""SELECT bigram, count(*) AS cnt FROM (
         |  SELECT w[i] || ' ' || w[i + 1] AS bigram
         |  FROM (SELECT $OracleWords AS w FROM documents) ws,
         |    unnest(range(1, len(w))) AS u(i)) bg
         |GROUP BY bigram ORDER BY cnt DESC, bigram LIMIT $TopBigrams""".stripMargin,
    "wc_cooccur" ->
      s"""WITH ws AS (SELECT $OracleWords AS w FROM documents),
         |pr AS (
         |  SELECT least(w[i], w[i + k]) AS w1, greatest(w[i], w[i + k]) AS w2
         |  FROM ws, unnest([1, 2]) AS ko(k),
         |       unnest(range(1, len(w) - k + 1)) AS u(i)),
         |top AS (
         |  SELECT w1, w2, count(*) AS n FROM pr GROUP BY w1, w2
         |  ORDER BY n DESC, w1, w2 LIMIT $TopCooc),
         |tk AS (SELECT unnest(w) AS word FROM ws),
         |uni AS (SELECT word, count(*) AS cnt FROM tk GROUP BY word),
         |tot AS (SELECT count(*) AS n_tok FROM tk),
         |tp AS (SELECT count(*) AS n_pairs FROM pr)
         |SELECT w1, w2, n,
         |  round(ln(n * 1.0 * n_tok * n_tok / n_pairs / u1.cnt / u2.cnt), 6) AS pmi
         |FROM top JOIN uni u1 ON top.w1 = u1.word
         |         JOIN uni u2 ON top.w2 = u2.word, tot, tp
         |ORDER BY n DESC, w1, w2""".stripMargin,
    "wc_chunked" ->
      s"""SELECT word, count(*) AS cnt FROM (
         |  SELECT unnest(regexp_split_to_array(
         |    substr(text, i * $ChunkChars + 1, $ChunkChars), '$TokenRe')) AS word
         |  FROM documents,
         |    unnest(range(0, CAST(ceil(length(text) / $ChunkChars.0) AS BIGINT))) AS u(i)
         |) t WHERE word <> ''
         |GROUP BY word ORDER BY cnt DESC, word""".stripMargin,
    // cross-file concatenation: global exclusive prefix offsets in
    // doc_id order, per-doc overlapped pieces, chunks reassembled in
    // offset order — strings.Join(filesData, "") + fixed slices, exactly
    "wc_concat" ->
      s"""WITH $concatChunksSql
         |SELECT word, count(*) AS cnt FROM (
         |  SELECT unnest(regexp_split_to_array(text, '$TokenRe')) AS word
         |  FROM chunks) t
         |WHERE word <> ''
         |GROUP BY word ORDER BY cnt DESC, word""".stripMargin,
    // the full placement pipeline: global chunks → contiguous fair
    // share to 5 map workers (remainder to the last) → per-(worker,
    // reducer) route costs → argmax edge contracted (maxContractions =
    // 3 − 2 = 1 under the default config) → remaining reducers to the
    // reduce-only workers in ascending order
    "wc_place" ->
      s"""WITH $concatChunksNSql,
         |n AS (SELECT count(*) AS n_chunks FROM chunks),
         |cw AS (
         |  SELECT DISTINCT chunk_no, word FROM (
         |    SELECT chunk_no, unnest(regexp_split_to_array(text, '$TokenRe')) AS word
         |    FROM chunks) t WHERE word <> ''),
         |edges AS (
         |  SELECT CAST(least(chunk_no // greatest(n_chunks // $NumChunksFixed, 1),
         |           ${NumChunksFixed - 1}) AS BIGINT) AS worker,
         |    ${reducerSql("word")} AS reducer,
         |    CAST(sum(strlen(word) + 4) AS BIGINT) AS cost
         |  FROM cw, n GROUP BY 1, 2),
         |top AS (SELECT reducer, worker FROM edges
         |        ORDER BY cost DESC, worker, reducer LIMIT 1),
         |red AS (SELECT CAST(unnest(range(0, $RouteReducers)) AS BIGINT) AS reducer),
         |b AS (SELECT r.reducer, t.worker FROM red r LEFT JOIN top t USING (reducer))
         |SELECT reducer,
         |  CASE WHEN worker IS NOT NULL THEN worker
         |       ELSE CAST(row_number() OVER (PARTITION BY worker IS NULL
         |              ORDER BY reducer) - 1 AS BIGINT) END AS host,
         |  CASE WHEN worker IS NOT NULL THEN 'locality' ELSE 'only_reduce' END AS via
         |FROM b ORDER BY reducer""".stripMargin,
    // fixed chunk COUNT (core/utils.go:325-329): cs = total div 5,
    // uniform slices, remainder to the LAST chunk — chunk_no caps at
    // k−1 so the overflow region folds into it, as the reference's
    // allStr[low : high+reminder] does
    "wc_chunked_n" ->
      s"""WITH $concatChunksNSql
         |SELECT word, count(*) AS cnt FROM (
         |  SELECT unnest(regexp_split_to_array(text, '$TokenRe')) AS word
         |  FROM chunks) t
         |WHERE word <> ''
         |GROUP BY word ORDER BY cnt DESC, word""".stripMargin,
    "wc_cms" ->
      s"""WITH tk AS (SELECT word FROM ($TokensSql) t),
         |cells AS (
         |  SELECT r,
         |    ('0x' || substr(md5('cms' || r::VARCHAR || ':' || word), 1, 8))::BIGINT
         |      % $CmsWidth AS c,
         |    count(*) AS cnt
         |  FROM tk, range($CmsDepth) rr(r) GROUP BY 1, 2),
         |top AS (
         |  SELECT word, count(*) AS exact_cnt FROM tk GROUP BY word
         |  ORDER BY exact_cnt DESC, word LIMIT $CmsTopK),
         |cand AS (
         |  SELECT word, exact_cnt, r,
         |    ('0x' || substr(md5('cms' || r::VARCHAR || ':' || word), 1, 8))::BIGINT
         |      % $CmsWidth AS c
         |  FROM top, range($CmsDepth) rr(r)),
         |est AS (
         |  SELECT word, exact_cnt, min(cnt) AS est_cnt
         |  FROM cand JOIN cells USING (r, c) GROUP BY 1, 2)
         |SELECT word, exact_cnt, est_cnt, est_cnt - exact_cnt AS overcount
         |FROM est ORDER BY exact_cnt DESC, word""".stripMargin,
  )

  /** `wc_files` shares the chunked-count oracle: the file round-trip is
    * token-preserving by construction, so any read-path defect (schema,
    * splitting, encoding) surfaces as a hash mismatch against the same
    * SQL. */
  val oracleAll: Map[String, String] =
    oracle + ("wc_files" -> oracle("wc_chunked"))
}
