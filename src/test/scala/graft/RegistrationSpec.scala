package graft

import java.nio.file.Files

import graft.operators.Similarity
import graft.plans.{GraftExtensions, GraftStrategy}
import graft.streaming.CorpusStream
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

/** graft's native expressions and plans on sessions the shared spec
  * session does not stand for: one nobody registered anything on, and
  * one whose only graft wiring is [[GraftExtensions]]. */
class RegistrationSpec extends SparkSpec {

  private def rows(s: SparkSession, key: String): Seq[String] =
    SparkEntry.queries(key)(s, sf).collect().map(_.toString).toSeq.sorted

  private def semanticPairs(s: SparkSession): Set[(Long, Long)] = {
    val em = Tables.embeddings(s, sf)
    val cents = Similarity.trainCodebook(em)
    val tmp = Files.createTempDirectory("graft_sem_fresh").toString
    val (idx, prs) = (s"$tmp/cellidx", s"$tmp/sempairs")
    CorpusStream.seedCellIndex(em.where(pmod(col("vec_id"), lit(2)) =!= 0), cents, idx)
    CorpusStream.semanticBatch(em.where(pmod(col("vec_id"), lit(2)) === 0), 0L, cents, idx, prs)
    s.read.parquet(prs).select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("native expressions need no registration: a fresh session returns the shared session's rows") {
    // the public builders first, on a session whose registry holds no
    // graft name: cos((3,4), (4,3)) = 24/25, dot = 24
    val fresh = spark.newSession()
    val v = fresh.range(1).select(
      array(lit(3.0), lit(4.0)).as("a"), array(lit(4.0), lit(3.0)).as("b"))
    assert(v.select(Similarity.cosine(col("a"), col("b")), Similarity.dotp(col("a"), col("b")))
      .head() == Row(0.96, 24.0))
    // each key on its own fresh session, so none rides another's setup
    for (key <- Seq("ann_bruteforce", "ann_mips", "ann_lsh", "dedup_simhash_native", "text_bpe")) {
      val got = rows(spark.newSession(), key)
      assert(got.nonEmpty, s"$key: no rows")
      assert(got == rows(spark, key), s"$key: fresh-session rows differ")
    }
    // the streaming semantic sink's batch body (cosine probe of a cell index)
    val pairs = semanticPairs(spark.newSession())
    assert(pairs.nonEmpty, "fixture too sparse: no semantic pairs")
    assert(pairs == semanticPairs(spark), "semanticBatch: fresh-session pairs differ")
    Cleanup.releaseAll(spark) // the pinned codebooks
  }

  test("GraftExtensions alone wires the strategy and the SQL names; setup adds nothing") {
    // a new session on the running SparkContext (getOrCreate'd by create())
    val ext = org.apache.spark.sql.classic.SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .create()
    try {
      // before any graft API runs
      assert(ext.sessionState.planner.strategies.contains(GraftStrategy))
      assert(ext.sql("SELECT graft_cosine(array(3d, 4d), array(4d, 3d))").head().getDouble(0) == 0.96)
      for ((key, exec) <- Seq("ev_asof_native" -> "AsOfJoin ",
          "ev_interval_native" -> "IntervalAgg ", "q44_grouptopk" -> "TopKPerKey ")) {
        val df = SparkEntry.queries(key)(ext, sf)
        df.collect()
        val plan = df.queryExecution.executedPlan.toString
        assert(plan.contains(exec), s"$key: no $exec in\n$plan")
      }
      // every entry point ran setup, which found the injected strategy
      assert(ext.experimental.extraStrategies.isEmpty, ext.experimental.extraStrategies)
    } finally {
      // create() made the new session the default and active one
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }
}
