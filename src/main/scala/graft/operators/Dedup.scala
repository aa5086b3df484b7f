package graft.operators

import graft.Tables
import graft.Pin.PinOps
import graft.functions.SimHash32
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.GraftSqlBridge.{column => native, expression}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable

/** Deduplication family for a training-data pipeline (SURVEY §2.3):
  * exact, MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * Portable hashing: H(seed, s) = first 8 hex digits of md5("seed:s") as
  * an unsigned 32-bit value — identical in Spark (`conv(substr(md5(…)))`)
  * and DuckDB (`('0x'||substr(md5(…),1,8))::BIGINT`), so every stage of
  * every pipeline is oracle-checked, not just row counts.
  *
  * Scale design (100 TB):
  *  - MinHash signatures + band hashes are computed per-row (shingle
  *    array → 1 md5/shingle → affine hash family → array_min) — fully
  *    map-only, ZERO shuffles before the LSH band join;
  *  - LSH banding turns O(n²) comparison into a shuffle keyed by
  *    (band, band_hash) whose buckets are the only quadratic zones;
  *  - n-gram Jaccard joins on (source, bigram) with an absolute
  *    document-frequency cap — an inverted-index join whose per-posting
  *    fan-out is bounded at any corpus size;
  *  - no driver-side collection anywhere.
  */
object Dedup {

  /** Portable 32-bit hash as a non-negative long. */
  def h32(seed: Column, s: Column): Column =
    conv(substring(md5(concat(seed.cast("string"), lit(":"), s)), 1, 8), 16, 10).cast("long")

  private def wordsCol: Column =
    filter(split(col("text"), WordCount.TokenRe), w => w =!= "")

  /** Exact dedup: canonical doc (min doc_id) per content hash.
    *
    * Scale: the canonical id is a map-side-combinable
    * `groupBy(content_hash).agg(min(doc_id))` joined back on the
    * already-shuffled hash — NOT a `min().over(partitionBy(hash))`
    * window. Exact dups are precisely where hot keys live (10⁸ copies
    * of a boilerplate page or the empty string share ONE hash); the
    * window form funnels every copy into one partition and SORTS it
    * before emitting, while the combiner collapses the hot hash to one
    * (hash, min) pair map-side and the join back streams — and AQE can
    * skew-split the probe side, which it can never do for a window.
    *
    * NULL text hashes as the empty string (`md5(coalesce(text, ''))`,
    * mirrored verbatim in the oracle): a NULL key would silently DROP
    * the row from the inner join back, while a crawl corpus treats an
    * empty fetch as a (highly duplicated) document — the keep-first
    * semantics must see it. */
  def exact(docs: DataFrame): DataFrame = {
    val hashed = docs.select(col("doc_id"),
      md5(coalesce(col("text"), lit(""))).as("content_hash"))
    val keep = hashed.groupBy("content_hash").agg(min("doc_id").as("keep_id"))
    hashed.join(keep, Seq("content_hash"))
      .select(col("doc_id"), col("content_hash"), col("keep_id"),
        (col("doc_id") =!= col("keep_id")).cast("long").as("is_dup"))
      .orderBy("doc_id")
  }

  /** URL CANONICALIZATION (`dedup_url`, r13) — the cheapest dedup every
    * crawl pipeline runs FIRST, before any content is even hashed: two
    * fetches of the same page under different URL spellings collapse
    * when the URL is normalized. The rules are the standard RFC 3986
    * syntax-based set (case-insensitive scheme/host, default-port
    * elision) plus the two crawl conventions every frontier applies
    * (trailing-slash strip, query-parameter sort, fragment drop —
    * fragments never reach the server):
    *
    *  1. drop the fragment (`#...`);
    *  2. lowercase scheme and host;
    *  3. strip the scheme's default port (`:443` for https, `:80` for
    *     http);
    *  4. strip trailing slashes from the path (empty path → `/`);
    *  5. sort query parameters (`&`-split, lexicographic — parameter
    *     order is almost never semantic, and sorting is what makes
    *     `?a=1&b=2` meet `?b=2&a=1`).
    *
    * Pure row-local string ops (regex extracts + one bounded in-row
    * array sort) — zero shuffles; mirrored op for op by
    * [[canonicalUrlSqlFor]] so the gate hash pins each rule. */
  def canonicalUrl(u: Column): Column = {
    val noFrag = regexp_replace(u, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hp = lower(regexp_extract(noFrag, "^[^:/?#]+://([^/?#]*)", 1))
    val host = when(scheme === "https", regexp_replace(hp, ":443$", ""))
      .when(scheme === "http", regexp_replace(hp, ":80$", ""))
      .otherwise(hp)
    val rawPath = regexp_replace(
      regexp_extract(noFrag, "^[^:/?#]+://[^/?#]*([^?#]*)", 1), "/+$", "")
    val path = when(rawPath === "", "/").otherwise(rawPath)
    val q = regexp_extract(noFrag, "\\?([^#]*)", 1)
    val qs = array_join(sort_array(filter(split(q, "&"), x => x =!= "")), "&")
    concat(scheme, lit("://"), host, path,
      when(qs === "", "").otherwise(concat(lit("?"), qs)))
  }

  /** [[canonicalUrl]]'s DuckDB mirror over a URL-valued SQL expression
    * (same regexes, same rule order). The fragment-stripped form is
    * inlined at every use site — a plain expression composes anywhere
    * (no lateral/CTE plumbing at the call site). */
  def canonicalUrlSqlFor(expr: String): String = {
    val nf = s"regexp_replace(($expr), '#.*$$', '')"
    val scheme = s"lower(regexp_extract($nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))"
    val hp = s"lower(regexp_extract($nf, '^[^:/?#]+://([^/?#]*)', 1))"
    val path = s"regexp_replace(regexp_extract($nf, '^[^:/?#]+://[^/?#]*([^?#]*)', 1), '/+$$', '')"
    val qs = s"array_to_string(list_sort(list_filter(string_split(" +
      s"regexp_extract($nf, '\\?([^#]*)', 1), '&'), x -> x <> ''))," + " '&')"
    s"""($scheme || '://' ||
       |  CASE $scheme
       |    WHEN 'https' THEN regexp_replace($hp, ':443$$', '')
       |    WHEN 'http'  THEN regexp_replace($hp, ':80$$', '')
       |    ELSE $hp END ||
       |  CASE WHEN $path = '' THEN '/' ELSE $path END ||
       |  CASE WHEN $qs = '' THEN '' ELSE '?' || $qs END)""".stripMargin
  }

  /** Keep-first by canonical URL over a frame carrying a `url` column:
    * the [[exact]] shape (map-side-combinable groupBy + join back —
    * never a URL-keyed window; hot keys are the POINT of this operator,
    * a boilerplate URL fetched 10⁸ times collapses in the combiner).
    * Returns the survivors with the input's columns.
    *
    * The DECISION runs on a skinny projection and survivors re-attach
    * by doc_id (r17; guide §8 "make every shuffle but the last operate
    * on a lightweight proxy"): the previous form joined the full frame
    * back ON THE CANONICAL-URL STRING, so the record PAYLOADS (the
    * WARC response bodies in `pipe_warc`) rode a string-keyed exchange
    * and the canonicalizer's regex bank ran twice (both unpersisted
    * references). Now canonicalization runs once over (doc_id, url),
    * only ids cross the decision shuffle, and the id-keyed survivor
    * join is the exact shape the payload frame joins everywhere else. */
  def urlFirst(docs: DataFrame): DataFrame = {
    val keep = docs
      .select(col("doc_id"), canonicalUrl(col("url")).as("g_canon"))
      .groupBy("g_canon").agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    docs.join(keep, Seq("doc_id"), "left_semi")
  }

  /** The `dedup_url` gate frame: every doc with its raw URL, canonical
    * URL, keep-first winner, and dup flag — the [[exact]] output shape
    * on the URL plane. */
  def urlDedup(docs: DataFrame): DataFrame = {
    val withUrl = docs.select(col("doc_id"),
      graft.sources.Sources.docUrl.as("url"))
      .withColumn("canon_url", canonicalUrl(col("url")))
    val keep = withUrl.groupBy("canon_url").agg(min("doc_id").as("keep_id"))
    withUrl.join(keep, Seq("canon_url"))
      .select(col("doc_id"), col("url"), col("canon_url"), col("keep_id"),
        (col("doc_id") =!= col("keep_id")).cast("long").as("is_dup"))
      .orderBy("doc_id")
  }

  val NumHashes = 16
  val Bands = 4
  val RowsPerBand: Int = NumHashes / Bands

  /** Universal-hash family for MinHash: h_j(s) = (A_j·H(s) + B_j) mod P
    * over ONE md5 base hash H(s) per shingle — md5 is the expensive part,
    * so the family costs 1 md5 + NumHashes integer ops per shingle
    * instead of NumHashes md5s. P is the largest 32-bit prime; A_j is
    * bounded to 20 bits so A_j·H(s) < 2^52 stays exact in BIGINT/Long
    * arithmetic on both engines. Constants derived once from md5("a:j") /
    * md5("b:j") and inlined as literals in plan and oracle alike. */
  val HashP = 4294967291L
  private def hconst(s: String): Long = graft.functions.Md5Hash.prefix32(s)
  val HashA: IndexedSeq[Long] = (0 until NumHashes).map(j => (hconst(s"a:$j") % ((1L << 20) - 1)) + 1)
  val HashB: IndexedSeq[Long] = (0 until NumHashes).map(j => hconst(s"b:$j") % HashP)

  /** 1-based index array [1 .. size-(n-1)] — empty when the doc is too
    * short (a bare `sequence(1, size-2)` would run backwards for short
    * docs and then index out of bounds). */
  private def gramIdx(ws: Column, n: Int): Column =
    when(size(ws) >= n, sequence(lit(1), size(ws) - (n - 1)))
      .otherwise(array().cast("array<int>"))

  /** k-gram array from a MATERIALIZED words column. `ws` must be a
    * projected attribute, never the split expression itself: inlining the
    * expression makes every `element_at(ws, i)` re-split the text, i.e.
    * O(n²) regex work per document (measured 2× on dedup_minhash at
    * sf0.1 before this was isolated). */
  private def grams(ws: Column, n: Int): Column =
    transform(gramIdx(ws, n),
      i => concat_ws(" ", (0 until n).map(k => element_at(ws, i + k)): _*))

  /** Word 3-shingles of a document, as one row per distinct shingle.
    * CPU-floored (r16): the tokenize+gram explode is the heavy per-row
    * stage — see [[graft.Tables.cpuFloored]]. */
  def shingles(docs: DataFrame): DataFrame =
    graft.Tables.cpuFloored(docs).select(col("doc_id"), wordsCol.as("ws"))
      .select(col("doc_id"), explode(grams(col("ws"), 3)).as("shingle")).distinct()

  /** MinHash signatures + banding, map-only: the shingle set, all 16
    * signature minima, and the band hashes are computed inside ONE
    * per-row projection — `array_min(transform(shingles, h32(j, _)))`
    * per hash function — so the whole signature stage is shuffle-free
    * (the previous explode(sequence(0,15))→groupBy shape inflated
    * shuffle input 16× for the same result). Docs with no shingles
    * (< 3 words) emit nothing, same as the exploded pipeline.
    * No sort here: this is the reusable building block; query-boundary
    * sorts live in [[minhashBands]]/[[minhashPairs]]. */
  /** (doc_id, s0..s15) — the 16 signature minima, map-only. */
  private[graft] def minhashSignatures(docs: DataFrame): DataFrame = {
    // materialize words once; filter on the CHEAP equivalent condition
    // (≥3 words ⟺ ≥1 shingle) so predicate pushdown never duplicates
    // the gram construction. CPU-floored (r16): the shingle + 16-hash
    // signature projection is the dedup family's dominant map stage
    // (measured: dedup_minhash 2.33 → 0.94 s with the floor) — see
    // [[graft.Tables.cpuFloored]].
    val withSh = graft.Tables.cpuFloored(docs).select(col("doc_id"), wordsCol.as("ws"))
      .where(size(col("ws")) >= 3)
      .select(col("doc_id"), array_distinct(grams(col("ws"), 3)).as("shingles"))
    // one md5 per shingle; the 16 signature mins are affine transforms
    val withBase = withSh.select(col("doc_id"),
      transform(col("shingles"),
        s => conv(substring(md5(s), 1, 8), 16, 10).cast("long")).as("bh"))
    val sigCols = (0 until NumHashes).map { j =>
      array_min(transform(col("bh"), h => (h * HashA(j) + HashB(j)) % HashP)).as(s"s$j")
    }
    withBase.select(col("doc_id") +: sigCols: _*)
  }

  private[graft] def minhashBanded(docs: DataFrame): DataFrame = {
    val sig = minhashSignatures(docs)
    val bandCols = (0 until Bands).map { b =>
      val sigs = (0 until RowsPerBand).map(r => col(s"s${b * RowsPerBand + r}").cast("string"))
      md5(concat_ws(",", sigs: _*)).as(s"bh$b")
    }
    val banded = sig.select(col("doc_id") +: bandCols: _*)
    val stackExpr = (0 until Bands).map(b => s"$b, bh$b").mkString(", ")
    banded.selectExpr("doc_id", s"stack($Bands, $stackExpr) AS (band, band_hash)")
      .select(col("doc_id"), col("band").cast("long").as("band"), col("band_hash"))
  }

  /** The LSH "bucket key" table — docs sharing any (band, band_hash) are
    * near-duplicate candidates. */
  def minhashBands(docs: DataFrame): DataFrame =
    minhashBanded(docs).orderBy("doc_id", "band")

  /** Candidate near-duplicate pairs: docs colliding in any LSH band. */
  def minhashPairs(docs: DataFrame): DataFrame =
    minhashCandidates(docs).orderBy("doc_a", "doc_b")

  /** MINHASH AS AN ESTIMATOR (`dedup_minhash_est`) — the sketch-error
    * honesty gate for the dedup family (what q38_hll's rel_err column
    * is for cardinality): for every LSH candidate pair, the signature
    * agreement count (of [[NumHashes]] = 16 components — E[matches/16]
    * = true Jaccard, the MinHash theorem), next to the EXACT Jaccard
    * over the 3-shingle sets, both emitted with their integer
    * numerators so the gate hashes exact arithmetic.
    *
    * Scale: pairs are the band-join candidates (bounded by collisions,
    * never all-pairs); the exact branch joins (doc, shingle-digest)
    * frames — digests, never gram text, ride the shuffle (the
    * dedup_substring discipline); a production dedup thresholds on
    * est_matches and SKIPS the exact branch — it exists here to
    * measure the estimator against truth, per-pair. */
  def minhashEstimate(docs: DataFrame): DataFrame = {
    val sig = minhashSignatures(docs).pinned
    val pairs = minhashCandidates(docs)
    val sa = sig.select(col("doc_id").as("doc_a") +:
      (0 until NumHashes).map(j => col(s"s$j").as(s"a$j")): _*)
    val sb = sig.select(col("doc_id").as("doc_b") +:
      (0 until NumHashes).map(j => col(s"s$j").as(s"b$j")): _*)
    val estM = (0 until NumHashes)
      .map(j => when(col(s"a$j") === col(s"b$j"), 1L).otherwise(0L))
      .reduce(_ + _)
    // per-doc digest SET as ONE array payload: each candidate pair
    // joins to two arrays and intersects IN-ROW. The previous shape
    // exploded (pair × shingle) rows through a join + re-aggregation —
    // at 100× that's ~2.7 G shuffled rows for 26.7 M pairs (measured
    // 895.8 s → 736.5 s with the array form, §5c-r8c). The residual
    // cost is irreducible for THIS query's contract: 26.7 M pairs ride
    // four payload joins (two digest arrays + two 16-component
    // signatures) and a deterministic global sort — the price of
    // emitting the exact gauge PER PAIR. A production dedup thresholds
    // on est_matches at the band join and never materializes any of it.
    // array_intersect has set semantics, matching shingles()'s distinct.
    val shArr = shingles(docs).select(col("doc_id"), md5(col("shingle")).as("dig"))
      .groupBy("doc_id").agg(collect_set(col("dig")).as("digs"))
      .pinned
    pairs
      .join(shArr.select(col("doc_id").as("doc_a"), col("digs").as("da")), "doc_a")
      .join(shArr.select(col("doc_id").as("doc_b"), col("digs").as("db")), "doc_b")
      .join(sa, "doc_a").join(sb, "doc_b")
      .select(col("doc_a"), col("doc_b"), estM.as("est_matches"),
        size(array_intersect(col("da"), col("db"))).cast("long").as("n_common"),
        (size(col("da")) + size(col("db"))).cast("long").as("n_ab"))
      .withColumn("n_union", col("n_ab") - col("n_common"))
      .drop("n_ab")
      .withColumn("est_jaccard", round(col("est_matches") * lit(1.0) / NumHashes, 6))
      .withColumn("jaccard", round(col("n_common") * lit(1.0) / col("n_union"), 6))
      .orderBy("doc_a", "doc_b")
  }

  /** Signature-agreement threshold for [[minhashThresholded]]:
    * est_matches ≥ 8 of [[NumHashes]] = 16 ⟺ estimated Jaccard ≥ 0.5,
    * the standard near-duplicate cut. */
  val ThreshMatches = 8L

  /** PRODUCTION THRESHOLDED DEDUP (`dedup_minhash_thresh`, r9) — the
    * path every scaladoc in this family points at and the one a 100 TB
    * run actually executes: band-join candidates, then threshold on
    * SIGNATURE agreement (est_matches ≥ [[ThreshMatches]]) with NO
    * exact-Jaccard branch — where `dedup_minhash_est` is the estimator's
    * bounded-scale measurement query (it emits the exact gauge per pair,
    * and pays 26.7 M payload-array joins at 100× for it — §5c-r8c),
    * this key is what replaces it in production: the only per-pair work
    * is comparing two 16-component integer signatures that ride the
    * join as skinny fixed-width rows. Shingle digests never leave the
    * signature stage; no array payloads, no exact branch, no global
    * gauge.
    *
    * Scale shape — the threshold is applied AT THE BAND JOIN, exactly
    * as the estimator's scaladoc promises: the banded index carries the
    * 16 signature components WITH it (4 rows/doc, fixed-width longs),
    * so a colliding pair's est_matches computes INLINE on the join row
    * and the ≥τ filter runs BEFORE the pair-dedup distinct — the
    * distinct's shuffle carries only PASSING pairs (band-duplicated ≤4×),
    * never the full candidate set, and there are no per-pair signature
    * joins at all. Measured at 100× (idle, min of 5 JVM runs): 35.2 s
    * (post-join signature-join form) → 19.0 s inline — the
    * `dedup_minhash_pairs` cost band exactly (19.2 s same protocol), so
    * thresholding is FREE on top of candidate generation, vs the
    * estimator's 736 s. Estimator quality is machine-measured
    * separately: DedupSpec pins est-vs-exact MAE ≤ 0.25 via
    * `dedup_minhash_est`'s output. */
  def minhashThresholded(docs: DataFrame): DataFrame = {
    val sig = minhashSignatures(docs).pinned
    val estM = (0 until NumHashes)
      .map(j => when(col(s"a$j") === col(s"b$j"), 1L).otherwise(0L))
      .reduce(_ + _)
    // BAND-SEQUENTIAL execution (r12): the r11 single-job form stacked
    // all 4 bands into one self-join, so one shuffle staged EVERY
    // band's both-sides signature-fat rows at once — at the 1000× tier
    // (5 M docs) that footprint overran this box's ~53 GB scratch disk.
    // Each band now runs as its OWN eager job (the checkpoint forces
    // it), bounding peak shuffle scratch to ~¼: one band's join in
    // flight at a time, and only its PASSING pairs (post-threshold,
    // tiny) survive as checkpointed rows. The per-band GC hint lets the
    // ContextCleaner delete the superseded band's shuffle files before
    // the next band stages. This is also the real cluster shape — the
    // per-band stages pipeline, and a production run would write the
    // banded index bucketed by band_hash and join band partitions
    // independently. Result rows and hash gate unchanged: union of
    // per-band passing pairs → distinct is the same set the stacked
    // join produced.
    val passing = (0 until Bands).map { b =>
      val sigs = (0 until RowsPerBand)
        .map(r => col(s"s${b * RowsPerBand + r}").cast("string"))
      val bandb = sig.select(col("doc_id") +:
        (0 until NumHashes).map(j => col(s"s$j")) :+
        md5(concat_ws(",", sigs: _*)).as("band_hash"): _*)
      val l = bandb.select(col("doc_id").as("doc_a") +: col("band_hash") +:
        (0 until NumHashes).map(j => col(s"s$j").as(s"a$j")): _*)
      val r = bandb.select(col("doc_id").as("doc_b") +: col("band_hash") +:
        (0 until NumHashes).map(j => col(s"s$j").as(s"b$j")): _*)
      val p = l.join(r, Seq("band_hash"))
        .where(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"), estM.as("est_matches"))
        .where(col("est_matches") >= ThreshMatches)
        .pinned
      // LOCAL-MODE aid only: a driver GC lets the ContextCleaner's
      // weak-ref queue notice the superseded band's shuffle dependency
      // and delete its files before the next band stages — on one box
      // that bounds scratch disk. On a cluster the driver GC merely
      // accelerates cleanup RPCs; not wrong, but not this JVM's disk,
      // so the single-box idiom is scoped to local masters — and (r16)
      // to corpora whose band shuffles can actually pressure scratch
      // ([[graft.Dials.bandGcNeeded]]): at gate scale the unconditional
      // call was 8 full GCs per bench inside the timed path for
      // kilobyte band files.
      if (sig.sparkSession.sparkContext.isLocal && graft.Dials.bandGcNeeded)
        System.gc()
      p
    }
    passing.reduce(_ unionAll _)
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  /** Distinct candidate pairs (doc_a < doc_b) — the unsorted core of
    * [[minhashPairs]], reused by [[minhashClusters]] and the multi-signal
    * pipelines.
    *
    * The banded index is MATERIALIZED (eager localCheckpoint) before the
    * self-join: AQE does not reuse the map-only banded subplan across the
    * join's two sides (verified), so the declarative form would run the
    * full shingle+hash pass over the corpus TWICE — the single most
    * expensive map stage in the family, and 2× CPU at any scale. The
    * checkpoint is (doc_id, band, band_hash) — 4 short rows per doc,
    * a sliver of the corpus — and both join sides read it back instead.
    * The returned frame reads that pin lazily, so the caller frees it
    * ([[graft.Cleanup.freePins]] on the pairs) once the pairs are
    * consumed: [[minhashClusters]] does so after its components are
    * pinned; the lazy pair keys leave it to
    * [[graft.Cleanup.releaseAll]] (a production run would instead write
    * [[minhashBands]] to a bucketed table and self-join the stored
    * index). Measured at sf0.1: dedup_minhash_pairs 2.2→1.5 s,
    * dedup_combined 4.7→3.4 s. */
  private def minhashCandidates(docs: DataFrame): DataFrame = {
    val b = minhashBanded(docs).pinned
    val l = b.select(col("doc_id").as("doc_a"), col("band"), col("band_hash"))
    val r = b.select(col("doc_id").as("doc_b"), col("band"), col("band_hash"))
    l.join(r, Seq("band", "band_hash"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** INCREMENTAL dedup — the CDC/corpus-refresh shape: the existing
    * corpus's banded MinHash index is STORED (written once, reused every
    * batch; production would bucket it by band_hash), and each new-doc
    * batch computes bands for the NEW documents only, probes the stored
    * index for new↔existing candidates, and self-joins its own bands for
    * new↔new candidates. Per-batch cost is proportional to the BATCH
    * (signature pass + index probe), never to the corpus — at 100 TB the
    * difference between re-scanning everything per refresh and touching
    * only the delta. The new batch's bands BROADCAST to the probe, so the
    * stored index is never shuffled. "New" here is the deterministic
    * doc_id%20==0 slice so the oracle can mirror the split; the operator
    * takes any (existing, fresh) pair of document frames. */
  def incrementalPairs(existing: DataFrame, fresh: DataFrame, indexPath: String): DataFrame = {
    if (!graft.sources.Fixtures.ready(indexPath))
      minhashBanded(existing).write
        .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(indexPath)
    val index = existing.sparkSession.read.parquet(indexPath)
    // computed once, probed twice (index join + self-join)
    val nb = minhashBanded(fresh).pinned
    val crossPairs = broadcast(nb.select(col("doc_id").as("new_id"), col("band"), col("band_hash")))
      .join(index.select(col("doc_id").as("old_id"), col("band"), col("band_hash")),
        Seq("band", "band_hash"))
      // a doc present on BOTH sides would meet itself in every band:
      // drop degenerate self-pairs so the contract really does accept
      // any (existing, fresh) pair of frames, overlapping or not
      .where(col("new_id") =!= col("old_id"))
      .select(least(col("new_id"), col("old_id")).as("doc_a"),
        greatest(col("new_id"), col("old_id")).as("doc_b"))
    val l = nb.select(col("doc_id").as("doc_a"), col("band"), col("band_hash"))
    val r = nb.select(col("doc_id").as("doc_b"), col("band"), col("band_hash"))
    val newPairs = l.join(r, Seq("band", "band_hash"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
    crossPairs.unionAll(newPairs).distinct().orderBy("doc_a", "doc_b")
  }

  /** INCREMENTAL clustering — the second half of the corpus-refresh
    * path: fold a new batch into EXISTING cluster labels without
    * re-deriving any old candidate pair. Prior labels compress each old
    * component to a STAR (doc → cluster root), which preserves
    * connectivity exactly; union those star edges with the batch's
    * [[incrementalPairs]] and rerun [[connectedComponents]] over the
    * combined edge set. Cost ∝ |labels| + |batch pairs| — the old
    * corpus is never shingled again (its labels are READ from the
    * stored label table, here a parquet fixture written once). Shares
    * the full-recompute closure oracle, so the incremental path is
    * machine-checked equivalent to clustering from scratch. */
  def incrementalClusters(existing: DataFrame, fresh: DataFrame, allDocs: DataFrame,
                          indexPath: String, labelsPath: String): DataFrame = {
    if (!graft.sources.Fixtures.ready(labelsPath))
      minhashClusters(existing).write
        .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(labelsPath)
    val oldLabels = existing.sparkSession.read.parquet(labelsPath)
    val starEdges = oldLabels.where(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("doc_a"), col("cluster_id").as("doc_b"))
    val batchPairs = incrementalPairs(existing, fresh, indexPath)
      .select("doc_a", "doc_b")
    connectedComponents(allDocs.select(col("doc_id")),
      starEdges.unionAll(batchPairs).distinct())
  }

  /** Edit-distance near-dup pairs: bounded Levenshtein (≤ [[MaxEditDist]])
    * between same-(lang, source) documents of similar length. Candidates
    * come from a LENGTH-BAND join — one side also lands in the next
    * band, so any pair within [[MaxLenDiff]] chars meets in some band —
    * never from an all-pairs comparison; Spark's thresholded
    * `levenshtein(l, r, k)` prunes each comparison to O(k·n). Band width
    * = MaxLenDiff keeps per-bucket membership proportional to the local
    * length histogram at any corpus size. */
  val MaxEditDist = 8
  val MaxLenDiff = 4
  def editDistancePairs(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("lang"), col("source"),
      col("text"), col("n_chars"),
      floor(col("n_chars") / MaxLenDiff).as("bkt"))
    val l = base.select(col("doc_id").as("id_l"), col("lang"), col("source"),
      col("text").as("text_l"), col("n_chars").as("len_l"), col("bkt"))
    val r = base.select(col("doc_id").as("id_r"), col("lang"), col("source"),
      col("text").as("text_r"), col("n_chars").as("len_r"),
      explode(array(col("bkt"), col("bkt") + 1)).as("bkt"))
    l.join(r, Seq("lang", "source", "bkt"))
      .where(col("id_l") =!= col("id_r") &&
        abs(col("len_l") - col("len_r")) <= MaxLenDiff)
      .select(least(col("id_l"), col("id_r")).as("doc_a"),
        greatest(col("id_l"), col("id_r")).as("doc_b"),
        levenshtein(col("text_l"), col("text_r"), MaxEditDist).cast("long").as("dist"))
      .where(col("dist") >= 0) // thresholded form returns -1 above the cap
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  /** Near-duplicate CLUSTERS: connected components over the MinHash
    * candidate-pair graph, labelling every document with the minimum
    * doc_id of its component (the canonical survivor a training pipeline
    * keeps). Runs on [[connectedComponents]] (alternating large-star /
    * small-star rounds, Kiveris et al., "Connected Components in
    * MapReduce and Beyond", 2014, with a union-find finish): O(log²)
    * rounds whatever the component DIAMETER, where min-label
    * propagation needs diameter-many rounds (a million-doc near-dup
    * chain would take a million). Each round is work over the edge set
    * only — the corpus is never touched after candidate generation.
    * The banded index [[minhashCandidates]] pins is freed once the
    * components are pinned, so the returned lazy frame keeps only
    * [[connectedComponents]]' pinned roots alive. `dedup_cluster` and
    * `dedup_cluster_ls` both gate it against the same closure oracle. */
  def minhashClusters(docs: DataFrame): DataFrame = {
    val pairs = minhashCandidates(docs)
    val res = connectedComponents(docs.select(col("doc_id")), pairs)
    graft.Cleanup.freePins(pairs)
    res
  }

  /** Large-star/small-star connected components over ANY pair relation
    * (doc_a, doc_b) — reusable for whatever candidate generator produced
    * the pairs (MinHash bands, embedding buckets, explicit edges).
    *
    * Each round is ONE job: the pin that materializes it also carries
    * the round's convergence witness through `Dataset.observe`. Once the
    * live edge count is at most [[finishBound]] — the edge rows that fit
    * `spark.sql.autoBroadcastJoinThreshold`, capped at 2²⁰, so that
    * setting also picks the algorithm — the star rounds stop and
    * union-find finishes the components in one executor task — no
    * driver-side collection. The roots frame (every non-root node → its
    * component minimum) is pinned and every edge round is freed, so the
    * returned frame keeps only the roots alive. */
  def connectedComponents(nodes: DataFrame, pairs: DataFrame): DataFrame =
    connectedComponents(nodes, pairs, finishBound(pairs))

  /** [[connectedComponents]] finishing with union-find at `bound` live
    * edges or fewer; −1 runs the star rounds to convergence. */
  private[graft] def connectedComponents(nodes: DataFrame, pairs: DataFrame,
                                         bound: Long): DataFrame = {
    def bidir(e: DataFrame) =
      e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
    // large-star: every neighbor LARGER than u links to the minimum of
    // u's closed neighborhood
    def largeStar(e: DataFrame): DataFrame = {
      val b = bidir(e)
      val g = b.groupBy("src").agg(min("dst").as("mn"))
      b.join(g, "src")
        .where(col("dst") > col("src"))
        .select(col("dst").as("src"), least(col("mn"), col("src")).as("dst"))
        .where(col("src") =!= col("dst")).distinct()
    }
    // small-star: orient each edge from its larger endpoint; all smaller
    // neighbors and u itself link to the minimum
    def smallStar(e: DataFrame): DataFrame = {
      val o = e.select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      val g = o.groupBy("src").agg(min("dst").as("m"))
      o.join(g, "src").select(col("dst").as("src"), col("m").as("dst"))
        .unionAll(g.select(col("src"), col("m").as("dst")))
        .where(col("src") =!= col("dst")).distinct()
    }
    // Pin each round (lineage stays O(1)) and read its convergence
    // witness — (row count, exact-decimal sum of per-edge hashes) — from
    // the pin's own job. Rounds produce DISTINCT edge sets, so equal
    // witnesses across consecutive rounds show set equality up to a
    // 64-bit hash-sum collision (≈2⁻⁶⁴ — and a false positive merely
    // stops one round early on a monotone contraction).
    // The pin runs through the observed frame's own QueryExecution, so
    // its metrics are read synchronously once the pin returns.
    def pinWitnessed(e: DataFrame): (DataFrame, Row) = {
      val o = e.observe("witness", count(lit(1)),
        sum(xxhash64(col("src"), col("dst")).cast("decimal(38,0)")))
      val p = o.pinned
      (p, o.queryExecution.observedMetrics("witness"))
    }
    var (edges, stats) =
      pinWitnessed(pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
    val order = vertexOrder(edges.schema)
    def live = stats.getLong(0)
    def finishes = order.isDefined && live <= bound
    var stable = live == 0L // no edges: already converged
    while (!stable && !finishes) {
      val (next, nextStats) = pinWitnessed(smallStar(largeStar(edges)))
      graft.Cleanup.freeCheckpoint(edges) // superseded round's blocks, freed eagerly
      edges = next
      stable = nextStats == stats
      stats = nextStats
    }
    val roots = (order match {
      case Some(ord) if finishes =>
        edges.coalesce(1).mapPartitions(unionFind(ord))(Encoders.row(edges.schema))
          .toDF("src", "root")
      case _ => edges.groupBy("src").agg(min("dst").as("root"))
    }).pinned
    graft.Cleanup.freeCheckpoint(edges, blocking = true)
    val labels = nodes.select(col("doc_id"))
      .join(roots, col("doc_id") === col("src"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("root"), col("doc_id")).as("cluster_id"))
    labels.select(col("doc_id"), col("cluster_id"),
        (col("doc_id") === col("cluster_id")).cast("long").as("is_canonical"))
      .orderBy("doc_id")
  }

  /** Live edges at or under which [[connectedComponents]] finishes in
    * one task: as many edge rows (at the row's `defaultSize`, 16 bytes
    * for Long ends, 40 for String ends whatever their real length) as
    * fit the session's `spark.sql.autoBroadcastJoinThreshold`, the size
    * Spark already trusts to a single task, capped at [[FinishMaxEdges]].
    * So the broadcast threshold also picks the CC algorithm: at the
    * 10 MB default, 655 360 Long or 262 144 String edges; −1, which
    * also turns broadcasting off, keeps the star rounds to the end. */
  private def finishBound(pairs: DataFrame): Long = {
    val threshold = SQLConf.get.autoBroadcastJoinThreshold
    if (threshold < 0) -1L
    else math.min(FinishMaxEdges,
      threshold / pairs.select(col("doc_a"), col("doc_b")).schema.defaultSize)
  }

  /** The largest union-find finish measured against the star rounds
    * (`plans/r19/finish_size.md`, `local[4]`): at 2²⁰ random edges the
    * finish ran 3.3–7.3 s against 31–70 s of star rounds, and its one
    * task held 67 MB (Long ids) to 146 MB (64-character String ids) of
    * heap. A larger broadcast threshold does not raise the bound past
    * it. */
  private val FinishMaxEdges = 1L << 20

  /** The local order that equals Spark's `min`/`least` on the vertex
    * type: Long, or String by UTF-8 bytes. Other types have none here,
    * so their components run the star rounds to the end. */
  private def vertexOrder(e: StructType): Option[Ordering[Any]] =
    e.map(_.dataType).distinct match {
      case Seq(LongType) => Some(Ordering.Long.asInstanceOf[Ordering[Any]])
      case Seq(StringType) => Some(Utf8Order.asInstanceOf[Ordering[Any]])
      case _ => None
    }

  private object Utf8Order extends Ordering[String] {
    def compare(a: String, b: String): Int =
      UTF8String.fromString(a).binaryCompare(UTF8String.fromString(b))
  }

  /** Union-find over every (src, dst) row it is given, linking each
    * root under the smaller one, so a component's root is its minimum.
    * Emits (node, component minimum) for every non-root node — the
    * shape of the converged star edges. Rows with a NULL end join
    * nothing, as in the star rounds' equi-joins. */
  private def unionFind(ord: Ordering[Any])(rows: Iterator[Row]): Iterator[Row] = {
    val parent = mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var root = x
      var up = parent.getOrElseUpdate(root, root)
      while (up != root) { root = up; up = parent(root) }
      var n = x
      while (n != root) { val next = parent(n); parent(n) = root; n = next }
      root
    }
    rows.foreach { r =>
      if (!r.isNullAt(0) && !r.isNullAt(1)) {
        val (a, b) = (find(r.get(0)), find(r.get(1)))
        if (a != b) { if (ord.lt(a, b)) parent(b) = a else parent(a) = b }
      }
    }
    parent.keys.toArray.iterator.flatMap { n =>
      val root = find(n)
      if (root == n) None else Some(Row(n, root))
    }
  }

  /** Quality-based cluster REPRESENTATIVES: a real corpus build keeps
    * the best-quality member of each near-duplicate cluster, not the
    * lowest doc_id — lowest-id selection systematically biases toward
    * whatever happened to be ingested first. Components come from
    * [[minhashClusters]]; the quality
    * score is [[TextAnalysis.qualityScoreCol]] evaluated inline in the
    * scan (no metric-table join); ties break on doc_id for determinism.
    * A map-side-combinable min(struct) argmax over the cluster key picks
    * the representative — hot clusters collapse in the combiner, never
    * in one window partition. */
  def bestRepresentatives(docs: DataFrame): DataFrame =
    representatives(
      minhashClusters(docs),
      docs.select(col("doc_id"), TextAnalysis.qualityScoreCol.as("quality")))

  /** Representatives over PRECOMPUTED clusters: pipelines that already
    * ran [[connectedComponents]] (or any clustering emitting (doc_id,
    * cluster_id)) compose clusters → representatives without re-deriving
    * candidates — at 100 TB the candidate generation is the expensive
    * pass, so recomputing it inside representative selection would
    * double the corpus cost. `scored` is any (doc_id, quality) relation;
    * ties break on doc_id for determinism. */
  def representatives(clusters: DataFrame, scored: DataFrame): DataFrame = {
    // argmax(quality desc NULLS LAST, tie doc_id asc) per cluster as a
    // map-side-combinable min(struct(...)) — NOT a partitionBy(
    // cluster_id) window: cluster size is data-frequency-unbounded (the
    // empty-string / boilerplate cluster holds 10⁸ docs at 100 TB), and
    // the window form would shuffle-and-SORT that whole cluster in one
    // partition. NULL quality maps to +Inf on the negated key = last,
    // matching the oracle's DESC NULLS LAST; the combiner collapses hot
    // clusters map-side and the join back streams (AQE-skew-splittable).
    val joined = clusters.join(scored, "doc_id")
    val negq = when(col("quality").isNull, lit(Double.PositiveInfinity))
      .otherwise(-col("quality"))
    val best = joined
      .groupBy("cluster_id")
      .agg(min(struct(negq.as("nq"), col("doc_id").as("doc_id"))).as("m"))
      .select(col("cluster_id"), col("m.doc_id").as("best_id"))
    joined.join(best, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("best_id"),
        (col("doc_id") === col("best_id")).cast("long").as("is_best"))
      .orderBy("doc_id")
  }

  /** MULTI-SIGNAL near-dup clusters: the union of text-level (MinHash
    * band) and embedding-level (LSH-bucketed cosine) candidate pairs,
    * clustered with [[connectedComponents]] — surface dups MinHash sees
    * and paraphrase dups only the embedding space sees collapse into one
    * component. `vec_id` is the doc_id of the embedded document. */
  def combinedClusters(docs: DataFrame, em: DataFrame): DataFrame = {
    val textPairs = minhashCandidates(docs)
    val embPairs = Similarity.embedDupPairs(em)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    connectedComponents(docs.select(col("doc_id")),
      textPairs.unionAll(embPairs).distinct())
  }

  val SimhashBits = 32

  /** 32-bit SimHash per document from term frequencies. */
  def simhash(docs: DataFrame): DataFrame = {
    val counts = WordCount.tokens(docs, col("doc_id"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("cnt"))
      .select(col("doc_id"), col("cnt"), h32(lit("sh"), col("word")).as("h"))
    counts
      .select(col("doc_id"), col("cnt"), col("h"),
        explode(sequence(lit(0), lit(SimhashBits - 1))).as("b"))
      .select(col("doc_id"), col("b"),
        when(expr("(shiftright(h, b) & 1) = 1"), col("cnt")).otherwise(-col("cnt")).as("c"))
      .groupBy("doc_id", "b").agg(sum(col("c")).as("s"))
      .groupBy("doc_id")
      .agg(sum(when(col("s") > 0, expr("shiftleft(CAST(1 AS BIGINT), CAST(b AS INT))"))
        .otherwise(0L)).as("simhash"))
      .orderBy("doc_id")
  }

  /** A bigram held by more than this many docs of one source is treated
    * as a stop-bigram and dropped from the Jaccard universe: it carries
    * ~zero similarity evidence but Θ(df²) join fan-out. An ABSOLUTE cap
    * keeps the inverted-index join's per-posting cost bounded at any
    * corpus size — the one property that makes this shape survive 100 TB
    * (without it, one hot bigram goes quadratic in corpus size). */
  val MaxBigramDf = 10

  /** Word-bigram Jaccard: top-20 most similar same-source pairs, via a
    * DF-capped inverted-index join on (source, bigram) — never a cross
    * join, never an unbounded posting list. Jaccard is computed over the
    * capped (discriminative-bigram) universe on both engines. */
  def ngramJaccard(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // The DF cap is a map-side-combinable groupBy + semi-join, NOT a
    // partitionBy(source, bigram) window: a stop-bigram held by 10⁸
    // docs would otherwise shuffle its every posting into ONE window
    // partition (and sort it) BEFORE the cap could drop it — the
    // straggler the cap exists to avoid. The combiner collapses hot
    // bigrams map-side, only (source, bigram, count) pairs ride the
    // shuffle, and the ≤cap survivors semi-join back on the same key.
    // The per-doc set size stays a window: partitionBy(doc_id) is
    // bounded by document length, never by corpus frequency.
    val bi = docs
      .select(col("doc_id"), col("source"), wordsCol.as("ws"))
      .select(col("doc_id"), col("source"), explode(grams(col("ws"), 2)).as("bigram"))
      .distinct()
    val rare = bi.groupBy("source", "bigram").agg(count(lit(1)).as("df"))
      .where(col("df") <= MaxBigramDf).select("source", "bigram")
    val kept = bi.join(rare, Seq("source", "bigram"), "left_semi")
      .withColumn("nset", count(lit(1)).over(Window.partitionBy("doc_id")))
    val a = kept.select(col("doc_id").as("doc_a"), col("source"), col("bigram"),
      col("nset").as("na"))
    val b = kept.select(col("doc_id").as("doc_b"), col("source"), col("bigram"),
      col("nset").as("nb"))
    a.join(b, Seq("source", "bigram"))
      .where(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("shared"), first("na").as("na"), first("nb").as("nb"))
      .select(col("doc_a"), col("doc_b"),
        (col("shared").cast("double") / (col("na") + col("nb") - col("shared"))).as("jaccard"))
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
      .limit(20)
  }

  /** Containment pairs below this many distinct capped bigrams on the
    * CONTAINED side are noise (2 shared bigrams ⇒ containment 1.0) —
    * both engines apply the same floor before the ratio. */
  val MinContainSet = 5

  /** CONTAINMENT detection (`dedup_containment`, r10) — Broder's OTHER
    * resemblance measure (Broder 1997 distinguishes resemblance
    * |A∩B|/|A∪B| from containment |A∩B|/|A|): the DIRECTED question
    * "how much of A is inside B", which Jaccard structurally cannot
    * answer — a short doc fully quoted inside a long one has tiny
    * Jaccard (the union is dominated by B) but containment 1.0. This is
    * the dedup family's quote/subset detector: boilerplate inclusion,
    * full-article quoting, prompt-in-completion leakage all read as
    * high C(A→B) with low resemblance, so they survive every symmetric
    * key (`dedup_ngram`, minhash) in this suite by design.
    *
    * Same DF-capped (source, bigram) inverted-index universe as
    * [[ngramJaccard]] — the shared cap is what keeps BOTH keys
    * posting-list-bounded — but the pair emission is DIRECTED (a≠b,
    * both orientations scored independently; C(A→B) ≠ C(B→A) is the
    * point), the denominator is the CONTAINED side's set size only, and
    * docs with fewer than [[MinContainSet]] capped bigrams are dropped
    * before the ratio (2 shared bigrams ⇒ a meaningless 1.0). Top-20 by
    * (containment desc, doc_a, doc_b) — a total order.
    *
    * Scale: identical shape to `dedup_ngram` (one window-capped bigram
    * table feeding a self-equi-join on (source, bigram)) — the directed
    * variant emits each colliding pair twice instead of once, a
    * constant factor, still never a cross join. The one float is a
    * single integer division, IEEE754-identical cross-engine. */
  def containmentPairs(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // DF cap = groupBy + semi-join, same reasoning (and same shape) as
    // [[ngramJaccard]]: the hot stop-bigram must die map-side, never in
    // a single window partition. The nset window stays: doc_id
    // partitions are bounded by document length.
    val bi = docs
      .select(col("doc_id"), col("source"), wordsCol.as("ws"))
      .select(col("doc_id"), col("source"), explode(grams(col("ws"), 2)).as("bigram"))
      .distinct()
    val rare = bi.groupBy("source", "bigram").agg(count(lit(1)).as("df"))
      .where(col("df") <= MaxBigramDf).select("source", "bigram")
    val kept = bi.join(rare, Seq("source", "bigram"), "left_semi")
      .withColumn("nset", count(lit(1)).over(Window.partitionBy("doc_id")))
      .where(col("nset") >= MinContainSet)
    val a = kept.select(col("doc_id").as("doc_a"), col("source"), col("bigram"),
      col("nset").as("na"))
    val b = kept.select(col("doc_id").as("doc_b"), col("source"), col("bigram"))
    a.join(b, Seq("source", "bigram"))
      .where(col("doc_a") =!= col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("shared"), first("na").as("na"))
      .select(col("doc_a"), col("doc_b"),
        (col("shared").cast("double") / col("na")).as("containment"))
      .orderBy(col("containment").desc, col("doc_a"), col("doc_b"))
      .limit(20)
  }

  /** Duplicated-SPAN detection — the n-gram form of exact-substring
    * dedup (Lee et al., "Deduplicating Training Data Makes Language
    * Models Better": memorization tracks verbatim repeated spans, not
    * whole-doc similarity). A span is a [[SubstrN]]-word window; a doc
    * is flagged when any of its spans also appears verbatim in another
    * document. Emits per doc: distinct spans, duplicated spans, the
    * duplicated fraction, and the flag — the anti-join input for a
    * cleaning pass (or the mask for span-level excision).
    *
    * Scale: spans shuffle as fixed-width md5 digests, never gram text;
    * the duplicated-span set is a map-side-combinable
    * `groupBy(gh).count()` filtered to df ≥ 2 and joined back — NOT a
    * `partitionBy(gh)` window: a boilerplate span repeated 10⁸ times
    * corpus-wide would funnel every occurrence into one window
    * partition and sort it, while the combiner collapses it to one
    * (gh, count) pair map-side and the mark-join back streams (and is
    * AQE-skew-splittable, which a window never is). */
  val SubstrN = 8
  def duplicatedSpans(docs: DataFrame): DataFrame = {
    val spans = TextAnalysis.gramsOf(docs, SubstrN)
      .select(col("doc_id"), md5(col("g")).as("gh")).distinct()
    val dup = spans.groupBy("gh").agg(count(lit(1)).as("df"))
      .where(col("df") >= 2).select(col("gh"), lit(1L).as("isdup"))
    spans.join(dup, Seq("gh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        coalesce(sum(col("isdup")), lit(0L)).as("n_dup"))
      .select(col("doc_id"), col("n_spans"), col("n_dup"),
        round(col("n_dup").cast("double") / col("n_spans"), 4).as("dup_frac"),
        (col("n_dup") > 0).cast("long").as("flagged"))
      .orderBy("doc_id")
  }

  /** Chaining shingle width for [[longestSpans]]. Smaller than
    * [[SubstrN]] on purpose: k bounds the MINIMUM detectable span, not
    * the maximum — chained k-grams reconstruct spans of any length, so
    * k only needs to clear noise (4 words is far above chance collision
    * at md5 width). */
  val SpanK = 4
  /** Total-occurrence posting cap per shingle digest: bounds the
    * candidate join to ≤ C(cap,2) pairs per digest. A span running
    * THROUGH a hotter-than-cap shingle (boilerplate repeated >12 times
    * corpus-wide) splits at that shingle on both engines — the honest
    * price of a shuffle-bounded construction (Lee et al.'s suffix array
    * is single-machine; this is the distributed trade). */
  val SpanPostCap = 12
  val SpanTop = 20

  /** LONGEST DUPLICATED SPAN (`dedup_lcs`, r10) — exact-substring dedup
    * at suffix granularity (Lee et al. 2021's actual object: the
    * longest VERBATIM repeated span, length-free), closing the
    * fixed-8-word-window approximation [[duplicatedSpans]] carries.
    * For every document pair that shares any [[SpanK]]-word shingle,
    * the maximal verbatim common word-span is reconstructed by
    * DIAGONAL RUN CHAINING: positional k-grams join on digest, a match
    * at (pos_a, pos_b) lies on diagonal pos_a−pos_b, and CONSECUTIVE
    * matches on one diagonal chain into a longer exact match — if
    * a[p..p+k−1]=b[q..q+k−1] and a[p+1..p+k]=b[q+1..q+k] then
    * a[p..p+k]=b[q..q+k], inductively: a run of r consecutive diagonal
    * matches IS a verbatim span of r+k−1 words, and every duplicated
    * span of length L ≥ k produces exactly L−k+1 such matches. Runs are
    * gaps-and-islands (pos_a − row_number over the diagonal); output
    * the [[SpanTop]] longest spans as (doc_a, doc_b, start_a, start_b,
    * span_words, span_hash) — span_hash is md5 of the actual span text
    * re-sliced from doc_a, so the gate proves the span is REAL, not
    * just that run arithmetic agrees.
    *
    * Scale: never all-pairs — candidates come only from shared-digest
    * postings, capped at [[SpanPostCap]] occurrences, and the cap's
    * document-frequency count is a map-side-combinable groupBy + semi-
    * join (NOT a partitionBy(digest) window, which would shuffle a
    * 10⁸-occurrence boilerplate shingle's every row into one partition
    * before the cap could filter it — the straggler the cap exists to
    * avoid); the islands
    * window partitions by (pair, diagonal), bounded by the shorter
    * doc's length; shingles shuffle as fixed-width digests; final
    * top-K is a sort-limit (TakeOrdered), and the 20-row result joins
    * back to the words table for the span hash (broadcast). */
  def longestSpans(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // CPU-floored (r16): the cached words frame otherwise inherits the
    // scan's single partition, serializing the positional-gram + md5
    // pass that dominates this key — see [[graft.Tables.cpuFloored]]
    val dw = graft.Tables.cpuFloored(docs)
      .select(col("doc_id"), wordsCol.as("ws")).persist()
    val pg = dw
      .select(col("doc_id"), posexplode(grams(col("ws"), SpanK)).as(Seq("p0", "g")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), md5(col("g")).as("gh"))
    // digest document-frequency via a map-side-combinable groupBy, NOT a
    // partitionBy("gh") window: a boilerplate shingle repeated 10⁸ times
    // at 100 TB would otherwise shuffle ALL its occurrences into one
    // window partition BEFORE the cap filters them — the straggler the
    // cap exists to avoid. The combiner collapses hot digests map-side;
    // only (gh, count) pairs ride the shuffle, and the ≤cap survivors
    // semi-join back.
    val rare = pg.groupBy("gh").agg(count(lit(1)).as("post"))
      .where(col("post") <= SpanPostCap).select("gh")
    val capped = pg.join(rare, Seq("gh"), "left_semi")
    val a = capped.select(col("doc_id").as("doc_a"), col("pos").as("pos_a"), col("gh"))
    val b = capped.select(col("doc_id").as("doc_b"), col("pos").as("pos_b"), col("gh"))
    val wDiag = Window
      .partitionBy(col("doc_a"), col("doc_b"), (col("pos_a") - col("pos_b")).as("diag"))
      .orderBy("pos_a")
    val top = a.join(b, "gh").where(col("doc_a") < col("doc_b"))
      .withColumn("grp", col("pos_a") - row_number().over(wDiag))
      .groupBy(col("doc_a"), col("doc_b"), (col("pos_a") - col("pos_b")).as("diag"), col("grp"))
      .agg(min("pos_a").as("sa"), min("pos_b").as("sb"),
        (max("pos_a") - min("pos_a") + SpanK).as("sw"))
      .select(col("doc_a"), col("doc_b"), col("sa").cast("long").as("start_a"),
        col("sb").cast("long").as("start_b"), col("sw").cast("long").as("span_words"))
      .orderBy(col("span_words").desc, col("doc_a"), col("doc_b"),
        col("start_a"), col("start_b"))
      .limit(SpanTop)
    top.join(dw.select(col("doc_id").as("doc_a"), col("ws")), "doc_a")
      .select(col("doc_a"), col("doc_b"), col("start_a"), col("start_b"), col("span_words"),
        md5(concat_ws(" ", slice(col("ws"), col("start_a").cast("int"),
          col("span_words").cast("int")))).as("span_hash"))
      .orderBy(col("span_words").desc, col("doc_a"), col("doc_b"),
        col("start_a"), col("start_b"))
  }

  /** VERBATIM-SPAN REMOVAL, KEEP-FIRST (`text_spandedup`, r16, VERDICT
    * r15 #5) — the REMOVAL half of Lee et al. 2021 (the suite's last
    * missing piece of that paper: `dedup_lcs` FLAGS duplicated spans,
    * `text_linededup` removes ALIGNED lines, but nothing removed
    * flagged verbatim spans keeping one occurrence — ExactSubstr's
    * actual cleaning step). Over [[longestSpans]]' positional-k-gram
    * frame: an occurrence of a corpus-duplicated [[SpanK]]-gram
    * survives iff it is the (doc_id, pos)-MINIMAL occurrence (a total
    * order both engines reproduce — keep-first at span granularity,
    * including within-doc repeats), and a WORD is removed iff some
    * non-surviving duplicated gram covers it. A copied L ≥ k span in a
    * later document is covered by exactly its L − k + 1 interior grams
    * (all duplicated, none minimal) ⇒ exactly its L words are removed;
    * the first occurrence's grams are all minimal ⇒ it survives whole;
    * grams straddling the span boundary carry unique context ⇒ the
    * surrounding prose is untouched. Output per doc: n_words,
    * n_removed, and an order-insensitive surviving-text digest sum
    * (h32 of pos:word over kept words — the `text_linededup` sum_h
    * discipline: the gate pins WHICH words survive at WHICH positions,
    * with no per-doc sort).
    *
    * Scale: unlike the pair-reconstructing [[longestSpans]], this needs
    * NO pair join and NO postings cap — corpus frequency and the
    * keep-first argmin (min(struct(doc_id, pos))) are both map-side
    * combinable (a 10⁸-occurrence boilerplate gram collapses in the
    * combiner), the digest-sized freq/argmin frames join back on the
    * already-shuffled gram key, coverage explodes only the FLAGGED
    * occurrences k-wide, and the per-doc rollup is one combinable
    * aggregate. No windows anywhere — this is the C4/ExactSubstr pass
    * shape at 100 TB. */
  def spanDedup(docs: DataFrame): DataFrame = {
    // CPU-floored — the longestSpans rationale
    val dw = graft.Tables.cpuFloored(docs)
      .select(col("doc_id"), wordsCol.as("ws")).persist()
    val pg = dw
      .select(col("doc_id"), posexplode(grams(col("ws"), SpanK)).as(Seq("p0", "g")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"), md5(col("g")).as("gh"))
    // ONE combined aggregate (r16): freq and the keep-first argmin are
    // both per-gh and map-side combinable, so they share one shuffle —
    // the previous two-aggregate form paid the (gh)-keyed exchange (and
    // a third evaluation of the positional-gram projection) twice for
    // the same grouping, then joined the two results back separately.
    val fk = pg.groupBy("gh").agg(count(lit(1)).as("cnt"),
        min(struct(col("doc_id"), col("pos"))).as("m"))
      .select(col("gh"), col("cnt"), col("m.doc_id").as("kd"), col("m.pos").as("kp"))
    val flagged = pg.join(fk, "gh")
      .where(col("cnt") > 1 &&
        !(col("doc_id") === col("kd") && col("pos") === col("kp")))
      .select(col("doc_id"), col("pos"))
    val covered = flagged
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(SpanK - 1).cast("long"))).as("w"))
      .distinct()
    val words = dw.select(col("doc_id"), posexplode(col("ws")).as(Seq("p0", "word")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("w"), col("word"))
    words.join(covered.withColumn("rm", lit(1L)), Seq("doc_id", "w"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(coalesce(col("rm"), lit(0L))).as("n_removed"),
        sum(when(col("rm").isNull,
            h32(lit("sd"), concat(col("w").cast("string"), lit(":"), col("word"))))
          .otherwise(0L)).as("sum_h"))
      .orderBy("doc_id")
  }

  /** Same simhash via the native codegen'd expression
    * [[graft.functions.SimHash32]] — map-only, no 32× bit-row blowup.
    * Letterless docs are filtered out (the declarative pipeline and its
    * oracle emit no row for a doc with zero tokens; without the filter
    * the native path would emit simhash=0 for them). */
  def simhashNative(docs: DataFrame): DataFrame = {
    docs.where(col("text").rlike("\\p{L}"))
      .select(col("doc_id"), native(SimHash32(expression(col("text")))).as("simhash"))
      .orderBy("doc_id")
  }

  /** ppm per signature component — 10⁶/[[NumHashes]], exact. */
  val PpmPerComponent: Long = 1000000L / NumHashes

  /** b-BIT MINHASH (`dedup_minhash_bbit`) — Li & König's
    * space-optimal variant (WWW 2010, b = 1): store only the LOWEST
    * BIT of each of the [[NumHashes]] signature minima — 16 bits ≈ 2
    * bytes per doc where the full signature is 128 — and correct the
    * estimator for the random bit collisions: a non-matching component
    * still agrees on its low bit half the time, so
    * E[m₁/16] = ½ + J/2 ⇒ Ĵ₁ = 2·(m₁/16 − ½). Per LSH candidate pair:
    * the full-signature agreement m_full (the `dedup_minhash_est`
    * gauge), the 1-bit agreement m_1bit, and both estimates as EXACT
    * ppm integers — j16_ppm = m_full·62500,
    * j1_ppm = (2·m₁ − 16)·62500 (the corrected estimator is unbiased,
    * not non-negative: a below-random bit agreement legitimately goes
    * negative, and the gate keeps it).
    *
    * Scale: the whole point — at 10¹⁰ documents the full signature
    * store is 1.28 TB, the 1-bit store 20 GB (fits one broadcast tier
    * higher in the memory hierarchy); candidates come from the SAME
    * band join (the index is unchanged — b-bit compresses the
    * VERIFICATION payload, not the LSH); the pair frame rides two
    * 16-component signature joins, skinny either way at sketch widths.
    * Spec pins |Ĵ₁ − Ĵ₁₆| ≤ ½ on average (the b = 1 variance cost,
    * measured) and Ĵ₁ = Ĵ₁₆ = 1 on identical signatures. */
  def minhashBbit(docs: DataFrame): DataFrame = {
    val sig = minhashSignatures(docs).pinned
    val pairs = minhashCandidates(docs)
    val sa = sig.select(col("doc_id").as("doc_a") +:
      (0 until NumHashes).map(j => col(s"s$j").as(s"a$j")): _*)
    val sb = sig.select(col("doc_id").as("doc_b") +:
      (0 until NumHashes).map(j => col(s"s$j").as(s"b$j")): _*)
    val mFull = (0 until NumHashes)
      .map(j => when(col(s"a$j") === col(s"b$j"), 1L).otherwise(0L))
      .reduce(_ + _)
    val m1 = (0 until NumHashes)
      .map(j => when(col(s"a$j") % 2 === col(s"b$j") % 2, 1L).otherwise(0L))
      .reduce(_ + _)
    pairs.join(sa, "doc_a").join(sb, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        mFull.as("m_full"), m1.as("m_1bit"),
        (mFull * PpmPerComponent).as("j16_ppm"),
        ((m1 * 2L - NumHashes) * PpmPerComponent).as("j1_ppm"))
      .orderBy("doc_a", "doc_b")
  }

  /** Bloom sizing: bits per stored key (m = 16·n) and hash count. At
    * 16 bits/key with k = 4 the fill is 1−e^(−1/4) ≈ 22 % and the
    * false-positive rate ≈ 0.22⁴ ≈ 0.24 % — and because m DERIVES from
    * the stored count, the rate holds at any corpus size (a fixed m
    * would saturate at 100×). */
  val BloomBitsPerKey = 16L
  val BloomHashes = 4

  /** BLOOM-FILTER SHINGLE MEMBERSHIP (`dedup_bloom`) — the
    * approximate-membership fast path incremental dedup and
    * DECONTAMINATION run before the expensive machinery (Bloom 1970;
    * the n-gram-overlap gate training pipelines run against benchmark
    * sets): the stored corpus's (doc_id % 20 ≠ 0, `dedup_incremental`'s
    * split) distinct 3-word shingles populate an m = 16·S-bit filter
    * via [[BloomHashes]] md5-family bit positions per shingle; each
    * batch doc probes ITS shingles and reports how many the filter
    * claims seen (bloom_hits) beside the exact count (exact_hits) — so
    * the key gates the ERROR SURFACE too: the false-positive set is a
    * deterministic function of the data and both engines must produce
    * the identical one, while bloom_hits < exact_hits (a false
    * NEGATIVE) is impossible — the Bloom guarantee, spec-asserted.
    * Membership is at SHINGLE granularity because that is where real
    * overlap lives: this corpus has zero byte-exact duplicate texts
    * (dedup_exact's gate proves it) but dense n-gram sharing.
    *
    * Scale: the filter is a DISTINCT over ≤ m skinny bit values — in
    * production it compiles to a bitmap broadcast (Spark's own
    * BloomFilterAggregate, gated at the relational level by
    * `q36_bloom`, is exactly this compile); the bit-set JOIN form here
    * keeps the arithmetic oracle-mirrorable bit for bit, and m DERIVES
    * from the stored shingle count so the ≈0.24 % FP rate holds at any
    * corpus size (a fixed m would saturate at 100×). Probe cost is k
    * rows per batch shingle — batch-sized, never corpus-sized. */
  def bloomDedup(docs: DataFrame): DataFrame = {
    val stored = docs.where(pmod(col("doc_id"), lit(20)) =!= 0)
    val batch = docs.where(pmod(col("doc_id"), lit(20)) === 0)
    val storedSh = shingles(stored).select("shingle").distinct().persist()
    val mRow = broadcast(storedSh.agg((count(lit(1)) * BloomBitsPerKey).as("m")))
    def bitCols = array((0 until BloomHashes).map(r =>
      h32(lit(s"bloom$r"), col("shingle")) % col("m")): _*)
    val sbits = storedSh.crossJoin(mRow)
      .select(explode(bitCols).as("bit")).distinct()
    val batchSh = shingles(batch).persist()
    // a shingle's k hashes may collide on one bit: count DISTINCT probe
    // bits and require hits == need, identically on both engines
    val pbits = batchSh.crossJoin(mRow)
      .select(col("doc_id"), col("shingle"), explode(bitCols).as("bit"))
      .distinct()
    val needSh = pbits.groupBy("doc_id", "shingle").agg(count(lit(1)).as("need"))
    val hitsSh = pbits.join(sbits, "bit")
      .groupBy("doc_id", "shingle").agg(count(lit(1)).as("hits"))
    val bloomHit = needSh.join(hitsSh, Seq("doc_id", "shingle"), "left")
      .select(col("doc_id"),
        (coalesce(col("hits"), lit(0L)) === col("need")).cast("long").as("bh"))
    val perDoc = batchSh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val bloomPerDoc = bloomHit.groupBy("doc_id").agg(sum("bh").as("bloom_hits"))
    val exactPerDoc = batchSh.join(storedSh, Seq("shingle"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("exact_hits"))
    batch.select("doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .join(bloomPerDoc, Seq("doc_id"), "left")
      .join(exactPerDoc, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_sh", "bloom_hits", "exact_hits"))
      .orderBy("doc_id")
  }

  type Q = (SparkSession, String) => DataFrame
  val queries: Map[String, Q] = Map(
    "dedup_exact"          -> ((s, d) => exact(Tables.documents(s, d))),
    "dedup_url"            -> ((s, d) => urlDedup(Tables.documents(s, d))),
    "dedup_bloom"          -> ((s, d) => bloomDedup(Tables.documents(s, d))),
    "dedup_minhash_bbit"   -> ((s, d) => minhashBbit(Tables.documents(s, d))),
    "dedup_minhash"        -> ((s, d) => minhashBands(Tables.documents(s, d))),
    "dedup_minhash_pairs"  -> ((s, d) => minhashPairs(Tables.documents(s, d))),
    "dedup_minhash_est"    -> ((s, d) => minhashEstimate(Tables.documents(s, d))),
    "dedup_minhash_thresh" -> ((s, d) => minhashThresholded(Tables.documents(s, d))),
    "dedup_cluster"        -> ((s, d) => minhashClusters(Tables.documents(s, d))),
    "dedup_cluster_ls"     -> ((s, d) => minhashClusters(Tables.documents(s, d))),
    "dedup_best"           -> ((s, d) => bestRepresentatives(Tables.documents(s, d))),
    "dedup_combined"       -> ((s, d) =>
      combinedClusters(Tables.documents(s, d), Tables.embeddings(s, d))),
    "dedup_simhash"        -> ((s, d) => simhash(Tables.documents(s, d))),
    "dedup_simhash_native" -> ((s, d) => simhashNative(Tables.documents(s, d))),
    "dedup_ngram"          -> ((s, d) => ngramJaccard(Tables.documents(s, d))),
    "dedup_incremental"    -> { (s, d) =>
      val docs = Tables.documents(s, d)
      incrementalPairs(
        docs.where(pmod(col("doc_id"), lit(20)) =!= 0),
        docs.where(pmod(col("doc_id"), lit(20)) === 0),
        graft.sources.Fixtures.dirFor("minhash_index", d, "documents"))
    },
    "dedup_editdist"       -> ((s, d) => editDistancePairs(Tables.documents(s, d))),
    "dedup_substring"      -> ((s, d) => duplicatedSpans(Tables.documents(s, d))),
    "dedup_lcs"            -> ((s, d) => longestSpans(Tables.documents(s, d))),
    "text_spandedup"       -> ((s, d) => spanDedup(Tables.documents(s, d))),
    "dedup_containment"    -> ((s, d) => containmentPairs(Tables.documents(s, d))),
    "dedup_increclust"     -> { (s, d) =>
      val docs = Tables.documents(s, d)
      incrementalClusters(
        docs.where(pmod(col("doc_id"), lit(20)) =!= 0),
        docs.where(pmod(col("doc_id"), lit(20)) === 0),
        docs,
        graft.sources.Fixtures.dirFor("minhash_index", d, "documents"),
        graft.sources.Fixtures.dirFor("cc_labels", d, "documents"))
    },
  )

  // ---- DuckDB oracles ----

  private val W = WordCount.OracleWords

  /** H(seed, s) on the DuckDB side. */
  private def oh32(seed: String, s: String): String =
    s"('0x' || substr(md5($seed || ':' || $s), 1, 8))::BIGINT"

  // oracle fragments parameterized by source relation so composed
  // pipelines (TrainingPipeline) can run them over filtered CTEs

  private def shinglesSql(rel: String) =
    s"""SELECT DISTINCT doc_id, words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
       |FROM (SELECT doc_id, $W AS words FROM $rel) dw,
       |     unnest(range(1, len(words) - 1)) AS u(i)""".stripMargin

  private def sigSql(rel: String) = {
    val mins = (0 until NumHashes)
      .map(j => s"min((h * ${HashA(j)} + ${HashB(j)}) % $HashP) AS s$j").mkString(", ")
    s"""SELECT doc_id, $mins FROM (
       |  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h
       |  FROM (${shinglesSql(rel)}) sh) bh
       |GROUP BY doc_id""".stripMargin
  }

  /** (doc_id, band, band_hash) over any relation with (doc_id, text). */
  def bandsSqlFor(rel: String): String = {
    val bandRows = (0 until Bands).map { b =>
      val parts = (0 until RowsPerBand).map(r => s"s${b * RowsPerBand + r}::VARCHAR")
      s"SELECT doc_id, $b::BIGINT AS band, md5(${parts.mkString(" || ',' || ")}) AS band_hash FROM sig"
    }
    s"WITH sig AS (${sigSql(rel)}) " + bandRows.mkString(" UNION ALL ")
  }

  /** MinHash candidate-pair SQL over any (doc_id, text) relation. */
  def bandPairsSql(rel: String): String =
    s"""SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |FROM (${bandsSqlFor(rel)}) a JOIN (${bandsSqlFor(rel)}) b
       |  ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id""".stripMargin

  /** Connected-component labels from ANY pairs query over ANY node
    * relation — the oracle mirror of [[connectedComponents]]; no
    * trailing ORDER BY so it can embed as a subquery. */
  def closureSqlFor(nodesRel: String, pairsSql: String): String =
    s"""WITH RECURSIVE pr AS ($pairsSql),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pr
       |          UNION ALL SELECT doc_b, doc_a FROM pr),
       |reach(node, root) AS (
       |  SELECT doc_id, doc_id FROM $nodesRel
       |  UNION
       |  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node)
       |SELECT node AS doc_id, CAST(min(root) AS BIGINT) AS cluster_id,
       |  (node = min(root))::BIGINT AS is_canonical
       |FROM reach GROUP BY node""".stripMargin

  /** Mirrors [[minhashClusters]] over any (doc_id, text) relation. */
  def clusterSqlFor(rel: String): String =
    closureSqlFor(rel, bandPairsSql(rel))

  private val bandsSql = bandsSqlFor("documents")

  private val simhashSql =
    s"""SELECT doc_id, CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
       |FROM (
       |  SELECT doc_id, b, SUM(CASE WHEN (h >> b) & 1 = 1 THEN cnt ELSE -cnt END) AS s
       |  FROM (
       |    SELECT doc_id, cnt, ${oh32("'sh'", "word")} AS h, b
       |    FROM (SELECT doc_id, word, count(*) AS cnt FROM (
       |            SELECT doc_id, unnest($W) AS word FROM documents) tk
       |          GROUP BY doc_id, word) wc,
       |         (SELECT unnest(range(0, $SimhashBits)) AS b) bits) hb
       |  GROUP BY doc_id, b) sb
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** `def`: the dedup_combined entry composes [[Similarity.embedPairsSql]],
    * whose LSH bit count may be corpus-derived ([[graft.Dials]]) — build
    * after the running main's `Dials.init`, not at class load. */
  def oracle: Map[String, String] = Map(
    "dedup_exact" ->
      """SELECT doc_id, md5(coalesce(text, '')) AS content_hash,
        |  min(doc_id) OVER (PARTITION BY md5(coalesce(text, ''))) AS keep_id,
        |  (doc_id <> min(doc_id) OVER (PARTITION BY md5(coalesce(text, ''))))::BIGINT AS is_dup
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the synthesized raw URL (docUrlSql) through the independent DuckDB
    // implementation of the same canonicalization rules, keep-first per
    // canonical — each planted variant (case, port, slash, query order,
    // fragment) must normalize identically in both engines or the
    // string-valued canon_url column hash-mismatches
    "dedup_url" ->
      s"""SELECT doc_id, url,
         |  ${canonicalUrlSqlFor("url")} AS canon_url,
         |  min(doc_id) OVER (PARTITION BY ${canonicalUrlSqlFor("url")}) AS keep_id,
         |  (doc_id <> min(doc_id) OVER (PARTITION BY ${canonicalUrlSqlFor("url")}))::BIGINT AS is_dup
         |FROM (SELECT doc_id, ${graft.sources.Sources.docUrlSql} AS url
         |      FROM documents) u
         |ORDER BY doc_id""".stripMargin,
    // the filter arithmetic mirrored bit for bit: same md5 positions,
    // same m = 16·S sizing, same distinct-bit hit counting per shingle
    "dedup_bloom" ->
      s"""WITH stored AS (SELECT * FROM documents WHERE doc_id % 20 <> 0),
         |batch AS (SELECT * FROM documents WHERE doc_id % 20 = 0),
         |ssh AS (SELECT DISTINCT shingle FROM (${shinglesSql("stored")}) s),
         |mm AS (SELECT $BloomBitsPerKey * count(*) AS m FROM ssh),
         |sbits AS (
         |  SELECT DISTINCT
         |    ('0x' || substr(md5('bloom' || r::VARCHAR || ':' || shingle), 1, 8))::BIGINT % m AS bit
         |  FROM ssh, mm, generate_series(0, ${BloomHashes - 1}) t(r)),
         |bsh AS (SELECT DISTINCT doc_id, shingle FROM (${shinglesSql("batch")}) s),
         |pbits AS (
         |  SELECT DISTINCT doc_id, shingle,
         |    ('0x' || substr(md5('bloom' || r::VARCHAR || ':' || shingle), 1, 8))::BIGINT % m AS bit
         |  FROM bsh, mm, generate_series(0, ${BloomHashes - 1}) t(r)),
         |needsh AS (SELECT doc_id, shingle, count(*) AS need FROM pbits GROUP BY 1, 2),
         |hitssh AS (SELECT doc_id, shingle, count(*) AS hits
         |  FROM pbits JOIN sbits USING (bit) GROUP BY 1, 2),
         |bh AS (
         |  SELECT n.doc_id,
         |    CASE WHEN h.hits = n.need THEN 1 ELSE 0 END AS bhit
         |  FROM needsh n LEFT JOIN hitssh h USING (doc_id, shingle)),
         |perdoc AS (SELECT doc_id, count(*) AS n_sh FROM bsh GROUP BY 1),
         |bpd AS (SELECT doc_id, CAST(sum(bhit) AS BIGINT) AS bloom_hits FROM bh GROUP BY 1),
         |epd AS (SELECT doc_id, count(*) AS exact_hits FROM bsh
         |  WHERE shingle IN (SELECT shingle FROM ssh) GROUP BY 1)
         |SELECT b.doc_id,
         |  coalesce(p.n_sh, 0) AS n_sh,
         |  coalesce(bp.bloom_hits, 0) AS bloom_hits,
         |  coalesce(ep.exact_hits, 0) AS exact_hits
         |FROM batch b
         |LEFT JOIN perdoc p USING (doc_id)
         |LEFT JOIN bpd bp USING (doc_id)
         |LEFT JOIN epd ep USING (doc_id)
         |ORDER BY b.doc_id""".stripMargin,
    "dedup_minhash" ->
      s"""SELECT doc_id, band, band_hash FROM ($bandsSql) b
         |ORDER BY doc_id, band""".stripMargin,
    "dedup_minhash_pairs" ->
      s"""SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM ($bandsSql) a JOIN ($bandsSql) b
         |  ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin,
    // same signatures, same candidates, same shingle digests — the
    // estimator AND the exact Jaccard reproduce bit-for-bit
    "dedup_minhash_est" -> {
      val matchSum = (0 until NumHashes)
        .map(j => s"CASE WHEN sa.s$j = sb.s$j THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH pairs AS (${bandPairsSql("documents")}),
         |sig AS (${sigSql("documents")}),
         |sh AS (SELECT doc_id, md5(shingle) AS dig FROM (${shinglesSql("documents")}) s),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |cmn AS (SELECT p.doc_a, p.doc_b, count(*) AS n_common
         |        FROM pairs p
         |        JOIN sh a ON a.doc_id = p.doc_a
         |        JOIN sh b ON b.doc_id = p.doc_b AND b.dig = a.dig
         |        GROUP BY 1, 2),
         |base AS (SELECT p.doc_a, p.doc_b,
         |    CAST($matchSum AS BIGINT) AS est_matches,
         |    COALESCE(c.n_common, 0) AS n_common,
         |    za.n + zb.n - COALESCE(c.n_common, 0) AS n_union
         |  FROM pairs p
         |  JOIN sig sa ON sa.doc_id = p.doc_a
         |  JOIN sig sb ON sb.doc_id = p.doc_b
         |  JOIN sizes za ON za.doc_id = p.doc_a
         |  JOIN sizes zb ON zb.doc_id = p.doc_b
         |  LEFT JOIN cmn c ON c.doc_a = p.doc_a AND c.doc_b = p.doc_b)
         |SELECT doc_a, doc_b, est_matches,
         |  CAST(n_common AS BIGINT) AS n_common, CAST(n_union AS BIGINT) AS n_union,
         |  round(est_matches * 1.0 / $NumHashes, 6) AS est_jaccard,
         |  round(n_common * 1.0 / n_union, 6) AS jaccard
         |FROM base ORDER BY doc_a, doc_b""".stripMargin
    },
    // same candidates, same signatures — the 1-bit agreement and the
    // bias-corrected estimator as exact ppm integers
    "dedup_minhash_bbit" -> {
      val matchSum = (0 until NumHashes)
        .map(j => s"CASE WHEN sa.s$j = sb.s$j THEN 1 ELSE 0 END").mkString(" + ")
      val bitSum = (0 until NumHashes)
        .map(j => s"CASE WHEN sa.s$j % 2 = sb.s$j % 2 THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH pairs AS (${bandPairsSql("documents")}),
         |sig AS (${sigSql("documents")}),
         |base AS (SELECT p.doc_a, p.doc_b,
         |    CAST($matchSum AS BIGINT) AS m_full,
         |    CAST($bitSum AS BIGINT) AS m_1bit
         |  FROM pairs p
         |  JOIN sig sa ON sa.doc_id = p.doc_a
         |  JOIN sig sb ON sb.doc_id = p.doc_b)
         |SELECT doc_a, doc_b, m_full, m_1bit,
         |  m_full * $PpmPerComponent AS j16_ppm,
         |  (m_1bit * 2 - $NumHashes) * $PpmPerComponent AS j1_ppm
         |FROM base ORDER BY doc_a, doc_b""".stripMargin
    },
    // same candidates, same signatures — thresholded at the sketch, no
    // exact branch anywhere (the production path, gated on its own)
    "dedup_minhash_thresh" -> {
      val matchSum = (0 until NumHashes)
        .map(j => s"CASE WHEN sa.s$j = sb.s$j THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH pairs AS (${bandPairsSql("documents")}),
         |sig AS (${sigSql("documents")})
         |SELECT p.doc_a, p.doc_b, CAST($matchSum AS BIGINT) AS est_matches
         |FROM pairs p
         |JOIN sig sa ON sa.doc_id = p.doc_a
         |JOIN sig sb ON sb.doc_id = p.doc_b
         |WHERE $matchSum >= $ThreshMatches
         |ORDER BY doc_a, doc_b""".stripMargin
    },
    // connected components as a recursive transitive closure: min reachable
    // id == the min-label fixpoint the Spark loop converges to
    "dedup_cluster" -> (clusterSqlFor("documents") + " ORDER BY doc_id"),
    // same fixpoint, different algorithm — sharing the oracle makes the
    // large-star/small-star implementation machine-checked equivalent
    "dedup_cluster_ls" -> (clusterSqlFor("documents") + " ORDER BY doc_id"),
    // the INCREMENTAL path (stored labels + batch pairs) shares the
    // full-recompute closure oracle too: label-star compression must be
    // connectivity-exact or this mismatches
    "dedup_increclust" -> (clusterSqlFor("documents") + " ORDER BY doc_id"),
    "dedup_best" ->
      s"""WITH cl AS (${clusterSqlFor("documents")}),
         |q AS (SELECT doc_id, quality FROM (${TextAnalysis.oracle("text_quality")}) tq),
         |j AS (SELECT cl.doc_id, cl.cluster_id, q.quality
         |      FROM cl JOIN q USING (doc_id)),
         |b AS (SELECT cluster_id, doc_id AS best_id FROM j
         |      QUALIFY row_number() OVER (PARTITION BY cluster_id
         |        ORDER BY quality DESC NULLS LAST, doc_id) = 1)
         |SELECT j.doc_id, j.cluster_id, b.best_id,
         |  (j.doc_id = b.best_id)::BIGINT AS is_best
         |FROM j JOIN b USING (cluster_id) ORDER BY j.doc_id""".stripMargin,
    "dedup_combined" -> (closureSqlFor("documents",
      s"${bandPairsSql("documents")} UNION ${Similarity.embedPairsSql}") +
      " ORDER BY doc_id"),
    "dedup_substring" ->
      s"""WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
         |           FROM documents),
         |g AS (SELECT DISTINCT doc_id, md5(array_to_string(ws[i:i+${SubstrN - 1}], ' ')) AS gh
         |      FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws) - ${SubstrN - 1})) AS i) s),
         |d AS (SELECT doc_id, count(*) OVER (PARTITION BY gh) AS df FROM g)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         |  CAST(coalesce(sum((df >= 2)::INT), 0) AS BIGINT) AS n_dup,
         |  round(coalesce(sum((df >= 2)::INT), 0)::DOUBLE / count(*), 4) AS dup_frac,
         |  (coalesce(sum((df >= 2)::INT), 0) > 0)::BIGINT AS flagged
         |FROM d GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // diagonal run chaining: consecutive positional k-gram matches on
    // one diagonal ARE a verbatim span (induction on overlap); islands
    // via pos_a - row_number per (pair, diagonal); span re-sliced from
    // doc_a's words so the hash gates the actual text
    "dedup_lcs" ->
      s"""WITH dw AS (SELECT doc_id, $W AS words FROM documents),
         |pg AS (
         |  SELECT doc_id, i AS pos,
         |    md5(words[i] || ' ' || words[i+1] || ' ' || words[i+2] || ' ' || words[i+3]) AS gh
         |  FROM dw, unnest(range(1, len(words) - ${SpanK - 2})) AS u(i)),
         |capped AS (
         |  SELECT doc_id, pos, gh FROM (
         |    SELECT doc_id, pos, gh, count(*) OVER (PARTITION BY gh) AS post FROM pg) c
         |  WHERE post <= $SpanPostCap),
         |m AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pos_a, b.pos AS pos_b
         |  FROM capped a JOIN capped b USING (gh)
         |  WHERE a.doc_id < b.doc_id),
         |isl AS (
         |  SELECT doc_a, doc_b, pos_a,  pos_b,
         |    pos_a - row_number() OVER (
         |      PARTITION BY doc_a, doc_b, pos_a - pos_b ORDER BY pos_a) AS grp
         |  FROM m),
         |spans AS (
         |  SELECT doc_a, doc_b, min(pos_a)::BIGINT AS start_a, min(pos_b)::BIGINT AS start_b,
         |    (max(pos_a) - min(pos_a) + $SpanK)::BIGINT AS span_words
         |  FROM isl GROUP BY doc_a, doc_b, pos_a - pos_b, grp),
         |top AS (SELECT * FROM spans
         |        ORDER BY span_words DESC, doc_a, doc_b, start_a, start_b LIMIT $SpanTop)
         |SELECT t.doc_a, t.doc_b, t.start_a, t.start_b, t.span_words,
         |  md5(array_to_string(
         |    list_slice(dw.words, t.start_a, t.start_a + t.span_words - 1), ' ')) AS span_hash
         |FROM top t JOIN dw ON dw.doc_id = t.doc_a
         |ORDER BY span_words DESC, doc_a, doc_b, start_a, start_b""".stripMargin,
    // the removal half of dedup_lcs's machinery: same positional
    // k-grams, corpus frequency + (doc_id, pos)-argmin keep-first,
    // k-wide coverage of the non-surviving duplicated occurrences,
    // order-insensitive surviving-(pos:word) digest sum — the
    // text_linededup two-step argmin and sum_h mirrors
    "text_spandedup" ->
      s"""WITH dw AS (SELECT doc_id, $W AS words FROM documents),
         |pg AS (
         |  SELECT doc_id, i AS pos,
         |    md5(words[i] || ' ' || words[i+1] || ' ' || words[i+2] || ' ' || words[i+3]) AS gh
         |  FROM dw, unnest(range(1, len(words) - ${SpanK - 2})) AS u(i)),
         |f AS (SELECT gh, count(*) AS cnt FROM pg GROUP BY 1),
         |k1 AS (SELECT gh, min(doc_id) AS kd FROM pg GROUP BY 1),
         |k AS (SELECT pg.gh AS gh, k1.kd, min(pg.pos) AS kp
         |      FROM pg JOIN k1 ON pg.gh = k1.gh AND pg.doc_id = k1.kd
         |      GROUP BY 1, 2),
         |flg AS (
         |  SELECT pg.doc_id, pg.pos
         |  FROM pg JOIN f ON pg.gh = f.gh JOIN k ON pg.gh = k.gh
         |  WHERE f.cnt > 1 AND NOT (pg.doc_id = k.kd AND pg.pos = k.kp)),
         |cov AS (SELECT DISTINCT doc_id, pos + j AS w
         |        FROM flg, unnest(range(0, $SpanK)) AS t(j)),
         |wrd AS (SELECT doc_id, i AS w, words[i] AS word
         |        FROM dw, unnest(range(1, len(words) + 1)) AS u(i))
         |SELECT wrd.doc_id, count(*) AS n_words,
         |  CAST(sum(CASE WHEN cov.w IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
         |  CAST(sum(CASE WHEN cov.w IS NULL THEN
         |    ('0x' || substr(md5('sd:' || wrd.w || ':' || wrd.word), 1, 8))::BIGINT
         |    ELSE 0 END) AS BIGINT) AS sum_h
         |FROM wrd LEFT JOIN cov ON cov.doc_id = wrd.doc_id AND cov.w = wrd.w
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "dedup_simhash" -> simhashSql,
    // the native expression implements the identical algorithm, so it
    // shares the declarative pipeline's oracle
    "dedup_simhash_native" -> simhashSql,
    "dedup_ngram" ->
      s"""WITH db AS (
         |  SELECT DISTINCT doc_id, source, words[i] || ' ' || words[i+1] AS bigram
         |  FROM (SELECT doc_id, source, $W AS words FROM documents) dw,
         |       unnest(range(1, len(words))) AS u(i)),
         |keep AS (SELECT source, bigram FROM db
         |         GROUP BY 1, 2 HAVING count(*) <= $MaxBigramDf),
         |fdb AS (SELECT db.* FROM db JOIN keep USING (source, bigram)),
         |sz AS (SELECT doc_id, count(*) AS nset FROM fdb GROUP BY doc_id)
         |SELECT doc_a, doc_b,
         |  shared::DOUBLE / (sa.nset + sb.nset - shared) AS jaccard
         |FROM (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
         |  FROM fdb a JOIN fdb b ON a.source = b.source AND a.bigram = b.bigram
         |    AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2) p
         |JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
         |ORDER BY jaccard DESC, doc_a, doc_b LIMIT 20""".stripMargin,
    // same capped-bigram universe as dedup_ngram, DIRECTED pairs, the
    // contained side's set size as the sole denominator, MinContainSet
    // floor before the ratio — one integer division, IEEE754-identical
    "dedup_containment" ->
      s"""WITH db AS (
         |  SELECT DISTINCT doc_id, source, words[i] || ' ' || words[i+1] AS bigram
         |  FROM (SELECT doc_id, source, $W AS words FROM documents) dw,
         |       unnest(range(1, len(words))) AS u(i)),
         |keep AS (SELECT source, bigram FROM db
         |         GROUP BY 1, 2 HAVING count(*) <= $MaxBigramDf),
         |fdb AS (SELECT db.* FROM db JOIN keep USING (source, bigram)),
         |sz AS (SELECT doc_id, count(*) AS nset FROM fdb GROUP BY doc_id
         |       HAVING count(*) >= $MinContainSet),
         |fk AS (SELECT fdb.* FROM fdb JOIN sz USING (doc_id))
         |SELECT doc_a, doc_b, shared::DOUBLE / sa.nset AS containment
         |FROM (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
         |  FROM fk a JOIN fk b ON a.source = b.source AND a.bigram = b.bigram
         |    AND a.doc_id <> b.doc_id
         |  GROUP BY 1, 2) p
         |JOIN sz sa ON sa.doc_id = doc_a
         |ORDER BY containment DESC, doc_a, doc_b LIMIT 20""".stripMargin,
    // bands are per-row, so bands(new)⋈bands(existing) ∪ bands(new)⋈bands(new)
    // equals the full band join restricted to pairs touching a new doc —
    // the oracle needs no notion of the stored index
    "dedup_incremental" ->
      s"""SELECT doc_a, doc_b FROM (${bandPairsSql("documents")}) p
         |WHERE doc_a % 20 = 0 OR doc_b % 20 = 0
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_editdist" ->
      s"""SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
         |FROM documents a JOIN documents b
         |  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
         |  AND abs(a.n_chars - b.n_chars) <= $MaxLenDiff
         |WHERE levenshtein(a.text, b.text) <= $MaxEditDist
         |ORDER BY doc_a, doc_b""".stripMargin,
  )
}
