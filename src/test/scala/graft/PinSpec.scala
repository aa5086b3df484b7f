package graft

import graft.operators.{Dedup, Similarity, TextAnalysis, WordCount}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins the [[Pin]] fault-tolerance switch: local (default) vs reliable
  * checkpointing produce identical results, and the reliable path
  * actually writes lineage-free checkpoint files into the configured
  * directory (what survives an executor loss). Also pins the
  * [[Pin.rounds]] release contract: its operators leave only the
  * returned frame behind, and so do the other operators that free their
  * own storage. */
class PinSpec extends SparkSpec {

  private def edges = {
    val s = spark
    import s.implicits._
    Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L),
      (21L, 22L), (22L, 23L)).toDF("doc_a", "doc_b")
  }

  private def nodes = {
    val s = spark
    import s.implicits._
    (1L to 3L).union(Seq(10L, 11L)).union(20L to 23L)
      .toDF("doc_id")
  }

  /** The persistent RDDs `op` makes that remain once its result is
    * collected and `free`d. */
  private def newRdds(op: () => DataFrame)(free: DataFrame => Unit): Seq[Int] = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val res = op()
    res.collect()
    free(res)
    sc.getPersistentRDDs.keys.filterNot(before).toSeq.sorted
  }

  /** One message per operator in `ops` that leaves RDDs behind. */
  private def leaksOf(ops: Seq[(String, () => DataFrame)])(free: DataFrame => Unit): Seq[String] =
    ops.flatMap { case (name, op) =>
      val left = newRdds(op)(free)
      if (left.isEmpty) None else Some(s"$name left RDDs ${left.mkString(",")}")
    }

  test("pin: local and reliable checkpointing agree on an iterative operator") {
    val docs = Tables.documents(spark, sf)
    val ops = Seq[(String, () => DataFrame)](
      "connectedComponents" -> (() => Dedup.connectedComponents(nodes, edges)),
      "lpa" -> (() => WordCount.lpa(docs)),
      "components" -> (() => WordCount.components(docs)))
    val local = ops.map { case (_, op) => op().collect().toSet }
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    def partFiles(): Long = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try walk.filter(p => p.getFileName.toString.startsWith("part-")).count()
      finally walk.close()
    }
    System.setProperty("spark.graft.checkpointDir", dir)
    try ops.zip(local).foreach { case ((name, op), want) =>
      val before = partFiles()
      assert(op().collect().toSet == want, s"$name: reliable rows differ from local")
      // the switch really engaged: this operator wrote checkpoint part-files
      assert(partFiles() > before, s"$name wrote no checkpoint files under $dir")
    } finally System.clearProperty("spark.graft.checkpointDir")
  }

  test("pin: Pin.rounds operators free their own intermediates") {
    // from an empty session: a cache of the same plan left by an earlier
    // test would make a leaked persist() a no-op and hide it
    Cleanup.releaseAll(spark)
    val docs = Tables.documents(spark, sf)
    val em = Tables.embeddings(spark, sf)
    val cents = Similarity.trainPqCodebook(em)
    val ops = Seq[(String, () => DataFrame)](
      "wc_lpa" -> (() => WordCount.lpa(docs)),
      "wc_bfs" -> (() => WordCount.bfs(docs)),
      "wc_bfs_rec" -> (() => WordCount.bfsRecursive(docs)),
      "wc_cc" -> (() => WordCount.components(docs)),
      "wc_mst" -> (() => WordCount.mst(docs)),
      "wc_sssp" -> (() => WordCount.sssp(docs)),
      "wc_kcore" -> (() => WordCount.kcore(docs)),
      "ann_graph_cluster" -> (() => Similarity.graphClusters(em)),
      "ann_graph_search" -> (() => Similarity.graphSearch(em)),
      "ann_graph_search_pq" -> (() => Similarity.graphSearchPqWith(em, cents)),
      "text_train" -> (() => TextAnalysis.trainClassifier(docs)))
    val leaks = leaksOf(ops)(Cleanup.freeCheckpoint)
    assert(leaks.isEmpty, leaks.mkString("; "))
    // wc_bfs_rec's temp views read its freed token base: none may remain
    val views = spark.catalog.listTables().collect().map(_.name).filter(_.startsWith("g47_"))
    assert(views.isEmpty, s"wc_bfs_rec left views ${views.mkString(",")}")
    // connectedComponents frees its edge rounds on both paths: only the
    // pinned roots behind its (lazy) result remain
    for (bound <- Seq(-1L, Long.MaxValue)) {
      val left = newRdds(() => Dedup.connectedComponents(nodes, edges, bound))(_ => ())
      assert(left.size == 1, s"connectedComponents (bound $bound) left RDDs ${left.mkString(",")}")
    }
  }

  test("pin: operators that own their storage give it all back once the result is freed") {
    // each operator frees its own intermediates; the caller's one free
    // of the returned frame's pins must leave nothing it made behind
    Cleanup.releaseAll(spark)
    val docs = Tables.documents(spark, sf)
    val em = Tables.embeddings(spark, sf)
    val ops = Seq[(String, () => DataFrame)](
      "dedup_cluster" -> (() => Dedup.minhashClusters(docs)),
      "text_textrank" -> (() => TextAnalysis.textRank(docs)),
      "text_bpe_train" -> (() => TextAnalysis.bpeTrain(docs)),
      "text_bpe_learned" -> (() => TextAnalysis.bpeLearnedTokens(docs)),
      "trainCodebook" -> (() => Similarity.trainCodebook(em)),
      "nnDescentEdges(alpha)" ->
        (() => Similarity.nnDescentEdges(em, Similarity.KnnK, Some(Similarity.AlphaDefault))))
    val leaks = leaksOf(ops)(Cleanup.freePins)
    assert(leaks.isEmpty, leaks.mkString("; "))
  }

  test("pin: default path truncates lineage (plan is a scan, not the producing query)") {
    val pinnedDf = Pin.eager(edges.groupBy("doc_a").agg(count(lit(1)).as("n")))
    val plan = pinnedDf.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Aggregate"), s"lineage not truncated:\n$plan")
  }
}
