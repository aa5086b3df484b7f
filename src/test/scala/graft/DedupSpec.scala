package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  test("bestRepresentatives: one best per cluster, and it attains the cluster's max quality") {
    val docs = Tables.documents(spark, sf)
    val best = Dedup.bestRepresentatives(docs)
    // exactly one is_best row per cluster, and best_id is constant in it
    val perCluster = best.groupBy("cluster_id")
      .agg(sum("is_best").as("n_best"), countDistinct("best_id").as("n_ids"))
    assert(perCluster.where(col("n_best") =!= 1 || col("n_ids") =!= 1).count() == 0)
    // the chosen doc's quality is the maximum of its cluster (ties allowed)
    val q = operators.TextAnalysis.quality(docs).select("doc_id", "quality")
    val withQ = best.join(q, "doc_id")
    val mx = withQ.groupBy("cluster_id").agg(max("quality").as("mxq"))
    val chosen = withQ.where(col("is_best") === 1).join(mx, "cluster_id")
    assert(chosen.where(!(col("quality") <=> col("mxq"))).count() == 0)
  }

  private def docs = Tables.documents(spark, sf)

  test("representatives composes over precomputed clusters with zero re-derivation") {
    // a pipeline that already ran connectedComponents reuses its output:
    // representative selection must not regenerate MinHash candidates
    val pairs = Dedup.minhashPairs(docs)
      .select(col("doc_a"), col("doc_b")).distinct()
    val clusters = Dedup.connectedComponents(docs.select(col("doc_id")), pairs)
    val scored = docs.select(col("doc_id"),
      operators.TextAnalysis.qualityScoreCol.as("quality"))
    val composed = Dedup.representatives(clusters, scored)
    // no candidate re-derivation: connectedComponents pins its
    // component roots, so the composed plan must contain no shingle/band
    // machinery (`explode` drives the shingle generator) — only the
    // cluster labels + the quality scan
    val p = composed.queryExecution.optimizedPlan.toString
    assert(!p.toLowerCase.contains("explode"),
      s"representatives re-derived MinHash candidates:\n$p")
    // and it selects exactly what the one-call form selects
    val oneCall = Dedup.bestRepresentatives(docs)
    assert(composed.exceptAll(oneCall).isEmpty && oneCall.exceptAll(composed).isEmpty)
  }

  test("incrementalPairs equals the full band join restricted to new-doc pairs") {
    val existing = docs.where(pmod(col("doc_id"), lit(20)) =!= 0)
    val fresh = docs.where(pmod(col("doc_id"), lit(20)) === 0)
    val tmp = java.nio.file.Files.createTempDirectory("graft-idx").toString + "/idx"
    val inc = Dedup.incrementalPairs(existing, fresh, tmp).select("doc_a", "doc_b")
    val full = Dedup.minhashPairs(docs)
      .where(pmod(col("doc_a"), lit(20)) === 0 || pmod(col("doc_b"), lit(20)) === 0)
      .select("doc_a", "doc_b")
    assert(inc.exceptAll(full).isEmpty && full.exceptAll(inc).isEmpty)
    // and the index was persisted for the next batch
    assert(new java.io.File(s"$tmp/_SUCCESS").exists())
  }

  test("editDistancePairs: exact duplicates at distance 0, all pairs within caps") {
    val p = Dedup.editDistancePairs(docs)
    assert(p.where(col("dist") < 0 || col("dist") > Dedup.MaxEditDist).count() == 0)
    assert(p.where(col("doc_a") >= col("doc_b")).count() == 0)
    // every exact same-(lang,source) duplicate pair must surface with dist 0
    val dup = docs.as("a").join(docs.as("b"),
      col("a.text") === col("b.text") && col("a.lang") === col("b.lang") &&
        col("a.source") === col("b.source") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val found = p.where(col("dist") === 0).select("doc_a", "doc_b")
    assert(dup.exceptAll(found).isEmpty)
  }

  test("editDistancePairs: pairs straddling a length-bucket boundary surface via the adjacent band") {
    // r4 ADVICE: the gate exercises mostly same-bucket exact duplicates;
    // an off-by-one in the bkt+1 candidate band would go undetected.
    // Synthetic docs with every length diff 1..MaxLenDiff and nonzero
    // edit distance, placed so consecutive lengths cross bucket edges
    // (bkt = len div 4 ⇒ 7|8, 11|12 … straddle).
    val s = spark
    import s.implicits._
    val lens = Seq(7L, 8L, 11L, 12L, 15L) // bkts 1,2,2,3,3
    val rows = lens.zipWithIndex.map { case (n, i) =>
      (i.toLong, "en", "synt", "a" * (n.toInt - 1) + "z", n) // shared prefix, distinct tail
    }
    val df = rows.toDF("doc_id", "lang", "source", "text", "n_chars")
    val p = Dedup.editDistancePairs(df).select("doc_a", "doc_b", "dist")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // every pair within MaxLenDiff must surface (edit dist = len diff + 1
    // tail fix ≤ MaxEditDist), including the cross-bucket ones
    for {
      i <- lens.indices; j <- lens.indices if i < j
      if lens(j) - lens(i) <= Dedup.MaxLenDiff
    } assert(p.exists(t => t._1 == i && t._2 == j),
        s"pair of lengths ${lens(i)}/${lens(j)} (buckets ${lens(i) / 4}/${lens(j) / 4}) missing: $p")
    // and nothing outside the length cap sneaks in (7 vs 15 = diff 8)
    assert(!p.exists(t => t._1 == 0 && t._2 == 4), s"over-cap pair surfaced: $p")
  }

  test("exact: keep_id is a fixed point and never exceeds doc_id") {
    val e = Dedup.exact(docs)
    assert(e.where(col("keep_id") > col("doc_id")).count() == 0)
    // canonical docs are not dups of themselves
    assert(e.where(col("doc_id") === col("keep_id") && col("is_dup") === 1).count() == 0)
  }

  test("bloomDedup: no false negatives ever; shared shingles hit; corpus FP surface is tiny") {
    val s = spark
    import s.implicits._
    // stored doc shares the shingle "a b c" with batch doc 20; batch doc
    // 40 shares nothing; batch doc 60 is too short to shingle at all
    val d = Seq(
      (1L, "a b c d"), (3L, "p q r s t"),
      (20L, "a b c x y z"), (40L, "u v w u v w u"), (60L, "k k"))
      .toDF("doc_id", "text")
    val r = Dedup.bloomDedup(d).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getLong(3))).toMap
    assert(r.keySet == Set(20L, 40L, 60L))
    assert(r(20L)._1 == 4)                      // 4 distinct shingles
    assert(r(20L)._3 == 1)                      // exactly "a b c" stored
    assert(r(60L) == ((0L, 0L, 0L)))            // shingle-less: all zeros
    // the Bloom guarantee on every doc: claimed-seen ⊇ actually-seen
    r.values.foreach { case (n, bh, eh) => assert(bh >= eh && bh <= n) }
    // corpus: guarantee holds everywhere and the FP surplus is tiny
    val c = Dedup.bloomDedup(docs).collect()
      .map(x => (x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(c.forall { case (n, bh, eh) => bh >= eh && bh <= n })
    val fp = c.map(t => t._2 - t._3).sum
    val nsh = c.map(_._1).sum
    assert(fp <= math.max(2L, nsh / 100), s"$fp false positives over $nsh shingles")
  }

  test("minhashBbit: identical docs estimate 1.0 under both widths; b=1 tracks the full signature") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),  // identical → same signature
      (3L, "zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val r = Dedup.minhashBbit(d).collect()
      .map(x => ((x.getLong(0), x.getLong(1)), (x.getLong(2), x.getLong(3), x.getLong(4), x.getLong(5))))
      .toMap
    assert(r.contains((1L, 2L)))
    assert(r((1L, 2L)) == ((16L, 16L, 1000000L, 1000000L)))
    // corpus invariants: m_1bit ≥ m_full (a matching component always
    // matches on its bit), ppm algebra exact, and the b=1 estimator
    // stays within its variance envelope of the full one on average
    val c = Dedup.minhashBbit(docs).collect()
      .map(x => (x.getLong(2), x.getLong(3), x.getLong(4), x.getLong(5)))
    assert(c.nonEmpty)
    c.foreach { case (mf, m1, j16, j1) =>
      assert(m1 >= mf, s"bit agreement $m1 below full agreement $mf")
      assert(j16 == mf * Dedup.PpmPerComponent)
      assert(j1 == (m1 * 2 - Dedup.NumHashes) * Dedup.PpmPerComponent)
    }
    val meanAbs = c.map(t => math.abs(t._4 - t._3)).sum.toDouble / c.length
    assert(meanAbs <= 500000.0, s"b=1 estimator drifted: mean |Δ| = $meanAbs ppm")
  }

  test("h32 is a stable unsigned 32-bit value") {
    val s = spark
    import s.implicits._
    val r = Seq("abc").toDF("x")
      .select(Dedup.h32(lit("0"), col("x")).as("h")).collect()(0).getLong(0)
    assert(r >= 0 && r <= 0xFFFFFFFFL)
    val again = Seq("abc").toDF("x")
      .select(Dedup.h32(lit("0"), col("x")).as("h")).collect()(0).getLong(0)
    assert(r == again)
  }

  test("minhash bands: exactly Bands rows per doc with shingles") {
    val b = Dedup.minhashBands(docs)
    val counts = b.groupBy("doc_id").count().select("count").distinct().collect()
    assert(counts.map(_.getLong(0)).toSet == Set(Dedup.Bands.toLong))
  }

  test("minhash pairs: symmetric-free (a < b) and deduplicated") {
    val p = Dedup.minhashPairs(docs)
    assert(p.where(col("doc_a") >= col("doc_b")).count() == 0)
    assert(p.count() == p.distinct().count())
  }

  test("clusters: every doc labelled, candidate pairs co-clustered, canonical is min") {
    val c = Dedup.minhashClusters(docs)
    assert(c.count() == docs.count())
    assert(c.where(col("cluster_id") > col("doc_id")).count() == 0)
    // the canonical doc of each cluster carries its own id as label
    assert(c.where(col("is_canonical") === 1 && col("cluster_id") =!= col("doc_id")).count() == 0)
    // every LSH candidate pair must land in the same component
    val lbl = c.select(col("doc_id"), col("cluster_id"))
    val p = Dedup.minhashPairs(docs)
    val split = p
      .join(lbl.toDF("doc_a", "ca"), "doc_a")
      .join(lbl.toDF("doc_b", "cb"), "doc_b")
      .where(col("ca") =!= col("cb"))
    assert(split.count() == 0)
    // each cluster's min member is its label
    val badMin = c.groupBy("cluster_id").agg(min("doc_id").as("mn"))
      .where(col("cluster_id") =!= col("mn"))
    assert(badMin.count() == 0)
  }

  test("large-star/small-star clustering agrees with label propagation on the corpus") {
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(key(Dedup.minhashClustersLS(docs)) == key(Dedup.minhashClusters(docs)))
  }

  test("large-star/small-star collapses a long CHAIN — the adversarial-diameter case") {
    // a 200-link path graph: naive propagation needs ~200 rounds; the
    // star rounds must collapse it in O(log^2)
    val s = spark
    import s.implicits._
    val n = 200
    val nodes = (0 until n).map(_.toLong).toDF("doc_id")
    val chain = (0 until n - 1).map(i => (i.toLong, i.toLong + 1)).toDF("doc_a", "doc_b")
    // bound 0: no union-find finish, the star rounds run to convergence
    val c = Dedup.connectedComponents(nodes, chain, 0L)
    assert(c.select("cluster_id").distinct().collect().map(_.getLong(0)).toSet == Set(0L))
    assert(c.where(col("is_canonical") === 1).count() == 1)
    assert(c.count() == n)
  }

  test("union-find finish and star rounds produce identical clusters") {
    val s = spark
    import s.implicits._
    val n = 200
    val chainNodes = (0 until n).map(_.toLong).toDF("doc_id")
    val chain = (0 until n - 1).map(i => (i.toLong, i.toLong + 1)).toDF("doc_a", "doc_b")
    val minhash = Dedup.minhashPairs(docs).select(col("doc_a"), col("doc_b")).distinct()
    // U+FF21 sorts below U+1F600 by UTF-8 bytes (Spark's string order)
    // but above it by UTF-16 units: the finish must use Spark's order
    val words = Seq("b", "a", "c", "\uFF21", "\uD83D\uDE00", "x", "y", "z", "lone")
      .toDF("doc_id")
    val wordPairs = Seq(("b", "c"), ("c", "a"), ("\uD83D\uDE00", "\uFF21"),
      ("z", "y"), ("y", "x")).toDF("doc_a", "doc_b")
    val cases = Seq(
      "chain" -> (chainNodes, chain),
      "minhash pairs" -> (docs.select(col("doc_id")), minhash),
      "string vertices" -> (words, wordPairs),
      "empty pairs" -> (chainNodes, Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")),
      "nodes in no pair" -> ((0L until 300L).toDF("doc_id"), chain.where(col("doc_a") % 7 =!= 3)))
    for ((name, (nodes, pairs)) <- cases) {
      val star = Dedup.connectedComponents(nodes, pairs, -1L).collect().toSeq
      val finish = Dedup.connectedComponents(nodes, pairs, Long.MaxValue).collect().toSeq
      assert(star.nonEmpty, name)
      assert(star == finish, s"$name: union-find finish differs from the star rounds")
    }
  }

  test("identical docs collide in every band; disjoint docs in none") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six seven")).toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(d).as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("simhash: 32-bit range and identical docs agree") {
    val s = spark
    import s.implicits._
    val d = Seq((1L, "a b c a b"), (2L, "a b c a b"), (3L, "x y z")).toDF("doc_id", "text")
    val sh = Dedup.simhash(d).as[(Long, Long)].collect().toMap
    assert(sh(1L) == sh(2L))
    assert(sh.values.forall(v => v >= 0 && v <= 0xFFFFFFFFL))
  }

  test("ngram jaccard is in (0, 1] and capped at 20 rows") {
    val j = Dedup.ngramJaccard(docs).collect()
    assert(j.length <= 20)
    assert(j.forall { r =>
      val v = r.getDouble(2); v > 0.0 && v <= 1.0
    })
  }

  test("containment: a doc quoted inside a longer one reads 1.0 where jaccard reads low") {
    val s = spark
    import s.implicits._
    val quote = "alpha bravo charlie delta echo foxtrot" // 5 bigrams
    val host = quote + " golf hotel india juliett kilo lima mike november " +
      "oscar papa quebec romeo sierra tango uniform victor whiskey xray yankee zulu"
    val d = Seq(
      (1L, quote, "s1"),
      (2L, host, "s1"),
      // a third unrelated doc in the same source so the df cap has work
      (3L, "one two three four five six seven eight nine ten", "s1"))
      .toDF("doc_id", "text", "source")
    val r = Dedup.containmentPairs(d)
      .as[(Long, Long, Double)].collect()
      .map(p => ((p._1, p._2), p._3)).toMap
    // directed: ALL of doc1 is inside doc2 → C(1→2)=1.0; the reverse
    // direction is the quote's share of the host, strictly below
    assert(r((1L, 2L)) == 1.0, r.toString)
    assert(r((2L, 1L)) <= 0.2, r.toString)
    // the symmetric key would score this pair low — the reason the
    // directed key exists (jaccard = 5 / (5 + 27 - 5))
    val jac = Dedup.ngramJaccard(d).as[(Long, Long, Double)].collect()
      .find(p => p._1 == 1L && p._2 == 2L).map(_._3)
    assert(jac.exists(_ < 0.25), jac.toString)
    // the MinContainSet floor: doc3 shares nothing, and a 2-bigram doc
    // never enters the universe at all
    val tiny = Seq((1L, quote, "s1"), (4L, "alpha bravo charlie", "s1"))
      .toDF("doc_id", "text", "source")
    assert(Dedup.containmentPairs(tiny).count() == 0)
  }

  test("containment on the corpus: values in (0, 1], directed rows, capped at 20") {
    val c = Dedup.containmentPairs(docs).collect()
    assert(c.length <= 20)
    assert(c.forall { r =>
      val v = r.getDouble(2); v > 0.0 && v <= 1.0 && r.getLong(0) != r.getLong(1)
    })
  }

  test("longestSpans: a planted 15-word quote is found length-free at its exact offsets") {
    val s = spark
    import s.implicits._
    // letter-only words: TokenRe splits on digits, which would collapse
    // numbered fixtures into hot single-letter tokens past the post cap
    def ws(p: Char, n: Int) = (0 until n).map(i => s"$p${('a' + i).toChar}")
    val quote = ws('q', 15).mkString(" ")
    val hostA = (ws('f', 9) ++ ws('q', 15) ++ ws('g', 6)).mkString(" ") // quote at pos 10
    val hostB = (ws('h', 5) ++ ws('q', 15) ++ ws('i', 4)).mkString(" ") // quote at pos 6
    val d = Seq((1L, hostA), (2L, hostB)).toDF("doc_id", "text")
    val r = Dedup.longestSpans(d).collect()
    // one island: the full 15-word span — LONGER than dedup_substring's
    // fixed 8-word window, the length-free point of the key
    assert(r.length == 1, r.mkString("; "))
    val row = r.head
    assert((row.getLong(0), row.getLong(1)) == (1L, 2L))
    assert(row.getLong(2) == 10L && row.getLong(3) == 6L, row.toString)
    assert(row.getLong(4) == 15L)
    val md = java.security.MessageDigest.getInstance("MD5")
    val expectHash = md.digest(quote.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(row.getString(5) == expectHash)
  }

  test("spanDedup: keep-first at every planted site; surviving digest replays exactly (r16)") {
    val s = spark
    import s.implicits._
    def ws(p: Char, n: Int) = (0 until n).map(i => s"$p${('a' + i).toChar}")
    // doc 1 carries the quote FIRST (kept whole); doc 2 copies it (the
    // 15 words removed, surrounding prose untouched); doc 3 repeats a
    // 6-word span WITHIN itself (second occurrence removed, first kept)
    val d1 = ws('f', 9) ++ ws('q', 15) ++ ws('g', 6)
    val d2 = ws('h', 5) ++ ws('q', 15) ++ ws('i', 4)
    val d3 = ws('r', 6) ++ ws('k', 3) ++ ws('r', 6)
    val d = Seq((1L, d1.mkString(" ")), (2L, d2.mkString(" ")), (3L, d3.mkString(" ")))
      .toDF("doc_id", "text")
    val got = Dedup.spanDedup(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // independent replay of the whole rule: duplicated-gram keep-first
    // by (doc_id, pos), k-wide coverage, h32(pos:word) surviving sum
    val docs = Map(1L -> d1, 2L -> d2, 3L -> d3)
    val k = Dedup.SpanK
    val occ = docs.toSeq.flatMap { case (id, w0) =>
      w0.sliding(k).zipWithIndex.collect {
        case (g, i) if g.size == k => (g.mkString(" "), id, (i + 1).toLong) } }
    val byG = occ.groupBy(_._1)
    val flagged = occ.filter { case (g, id, p) =>
      val os = byG(g)
      os.size > 1 && (id, p) != os.map(o => (o._2, o._3)).min }
    val covered = flagged.flatMap { case (_, id, p) =>
      (p until p + k).map(id -> _) }.toSet
    def h32(sd: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(sd.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16)
    }
    for ((id, w0) <- docs) {
      val nRem = w0.indices.count(i => covered(id -> (i + 1).toLong))
      val sumH = w0.indices.collect { case i if !covered(id -> (i + 1).toLong) =>
        h32(s"sd:${i + 1}:${w0(i)}") }.sum
      assert(got(id) == ((w0.size.toLong, nRem.toLong, sumH)), s"doc $id: ${got(id)}")
    }
    assert(got(1L)._2 == 0L, "first occurrence must survive whole")
    assert(got(2L)._2 == 15L, "the copied quote must be removed exactly, nothing else")
    assert(got(3L)._2 == 6L, "the within-doc repeat's second occurrence must be removed")
  }

  test("longestSpans: a one-word mutation breaks the chain into two exact islands") {
    val s = spark
    import s.implicits._
    // shared prefix of 6 words, a differing middle word, shared suffix of 5:
    // runs must NOT chain across the mutation
    val pre = (0 until 6).map(i => s"p${('a' + i).toChar}").mkString(" ")
    val suf = (0 until 5).map(i => s"s${('a' + i).toChar}").mkString(" ")
    val d = Seq((1L, s"$pre xx $suf"), (2L, s"$pre yy $suf")).toDF("doc_id", "text")
    val r = Dedup.longestSpans(d)
      .select("span_words", "start_a", "start_b").as[(Long, Long, Long)].collect().toSet
    // prefix island: 3 consecutive k-grams → span 6 at pos 1/1;
    // suffix island: 2 k-grams → span 5 at pos 8/8
    assert(r == Set((6L, 1L, 1L), (5L, 8L, 8L)), r.toString)
  }

  test("longestSpans on the corpus: spans >= k, starts positive, ordered, capped at 20") {
    val r = Dedup.longestSpans(docs).collect()
    assert(r.length <= Dedup.SpanTop)
    assert(r.forall(row => row.getLong(4) >= Dedup.SpanK &&
      row.getLong(2) >= 1 && row.getLong(3) >= 1 && row.getLong(0) < row.getLong(1)))
    val lens = r.map(_.getLong(4)).toSeq
    assert(lens == lens.sortBy(-_), "not sorted by span_words desc")
    // the corpus plants near-dups: at least one genuinely duplicated span
    assert(r.nonEmpty)
  }

  test("minhashEstimate: identical docs agree on all 16 components; estimator tracks truth") {
    val s = spark
    import s.implicits._
    val twins = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val t = Dedup.minhashEstimate(twins)
      .as[(Long, Long, Long, Long, Long, Double, Double)].head()
    assert(t == ((1L, 2L, 16L, 2L, 2L, 1.0, 1.0)), s"got $t")
    // corpus: E[est] = J with stderr sqrt(J(1-J)/16) ≤ 0.125 — mean
    // absolute error across candidate pairs stays well inside 0.25
    val est = Dedup.minhashEstimate(docs)
      .select("est_jaccard", "jaccard").as[(Double, Double)].collect()
    assert(est.nonEmpty)
    val mae = est.map { case (e, j) => math.abs(e - j) }.sum / est.length
    assert(mae <= 0.25, f"mean |est−jaccard| $mae%.3f too large over ${est.length} pairs")
  }

  test("minhashThresholded: exactly the estimator's pairs cut at the sketch, exact branch never run") {
    val s = spark
    import s.implicits._
    val thr = Dedup.minhashThresholded(docs)
      .as[(Long, Long, Long)].collect().toSeq
    // the production path must agree with the measurement query's
    // est_matches column filtered at the same cut — same candidates,
    // same signatures, no exact-Jaccard arithmetic anywhere
    val viaEst = Dedup.minhashEstimate(docs)
      .where(col("est_matches") >= Dedup.ThreshMatches)
      .select("doc_a", "doc_b", "est_matches")
      .orderBy("doc_a", "doc_b").as[(Long, Long, Long)].collect().toSeq
    assert(thr == viaEst, s"thr=${thr.take(5)}… viaEst=${viaEst.take(5)}…")
    assert(thr.forall(_._3 >= Dedup.ThreshMatches))
    // and identical docs pass the cut with full agreement
    val twins = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    assert(Dedup.minhashThresholded(twins)
      .as[(Long, Long, Long)].head() == ((1L, 2L, 16L)))
  }

  test("canonicalUrl: each RFC/crawl rule pinned on a literal case") {
    val sp = spark
    import sp.implicits._
    val cases = Seq(
      // fragment dropped
      ("https://example.com/a#sec2", "https://example.com/a"),
      // scheme + host case-folded; path case PRESERVED
      ("HTTPS://WWW.Example.COM/A/B", "https://www.example.com/A/B"),
      // default port stripped per scheme
      ("https://example.com:443/a", "https://example.com/a"),
      ("http://example.com:80/a", "http://example.com/a"),
      // non-default port kept
      ("https://example.com:8443/a", "https://example.com:8443/a"),
      // http's default is NOT https's: :443 on http stays
      ("http://example.com:443/a", "http://example.com:443/a"),
      // trailing slashes stripped; bare root normalizes to '/'
      ("https://example.com/a/b//", "https://example.com/a/b"),
      ("https://example.com", "https://example.com/"),
      ("https://example.com/", "https://example.com/"),
      // query params sorted; empty query dropped
      ("https://example.com/a?b=2&a=1", "https://example.com/a?a=1&b=2"),
      ("https://example.com/a?", "https://example.com/a"),
      // query survives slash-strip ordering (path rule sees path only)
      ("https://example.com/a/?b=2&a=1#x", "https://example.com/a?a=1&b=2"),
      // all five rules at once (the planted-variant worst case)
      ("HTTPS://WWW.Example.COM:443/d/8/?b=2&a=1#sec2",
       "https://www.example.com/d/8?a=1&b=2"))
    val got = cases.map(_._1).toDF("url")
      .select(Dedup.canonicalUrl(col("url")).as("c")).as[String].collect()
    for (((in, want), g) <- cases.zip(got))
      assert(g == want, s"canonicalUrl($in) = $g, want $want")
  }

  test("urlDedup: planted variants collide only through canonicalization; keep-first holds") {
    val r = Dedup.urlDedup(docs).collect()
    val byId = r.map(x => x.getLong(0) -> x).toMap
    // every 8k+1 doc is a dup of 8k; everything else is canonical
    for ((id, row) <- byId) {
      val expectDup = id % 8 == 1 && byId.contains(id - 1)
      assert(row.getLong(4) == (if (expectDup) 1L else 0L), s"doc $id dup flag")
      if (expectDup) assert(row.getLong(3) == id - 1, s"doc $id keep_id")
    }
    // the paired docs never agree on the RAW url (canonicalization is
    // load-bearing, not a string equality in disguise)
    for ((id, row) <- byId if id % 8 == 1 && byId.contains(id - 1))
      assert(row.getString(1) != byId(id - 1).getString(1), s"doc $id raw url")
  }
}
