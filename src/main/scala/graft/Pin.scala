package graft

import org.apache.spark.sql.{DataFrame, Dataset}

/** Eager plan pinning for the iterative / staged operator family — the
  * single place the library's `localCheckpoint(true)` idiom lives, and
  * the FAULT-TOLERANCE CONTRACT for every operator that uses it
  * (connected-components rounds, k-NN graph refinement, BPE merge
  * rounds, the band-sequential MinHash jobs, the two-phase distributed
  * rank, the streaming fold-ins).
  *
  * [[rounds]] is THE ROUND POLICY: every fixed-round loop pins and
  * releases its rounds through it — label propagation (`wc_lpa`,
  * `ann_graph_cluster`), the beam walk (`ann_graph_search`,
  * `ann_graph_search_pq`, the beam calibration probe), `wc_bfs`,
  * `wc_sssp`, `wc_kcore` and the perceptron epochs (`text_train`).
  * Those operators free their own intermediates; only the returned
  * frame remains for the caller. `Dedup.connectedComponents` runs to
  * convergence, not for a fixed count, so it loops itself: each round
  * is one [[eager]] pin carrying its convergence witness, superseded
  * rounds are freed, and only its pinned roots remain. The
  * `minhashClusters` convergence loop keeps its own policy.
  *
  * Why pin at all: each iteration of these operators consumes its own
  * output. Un-truncated, the logical plan doubles per round — analysis
  * time goes superlinear and a reused subtree (e.g. the rank's bases
  * and local branches) may be re-planned inconsistently under AQE.
  * Eager materialization + lineage truncation holds plan depth constant
  * (measured: the §5c-r11 plan-depth experiment).
  *
  * THE TRADEOFF, stated plainly: `localCheckpoint` stores the pinned
  * partitions on EXECUTOR storage (memory, then disk) and cuts the
  * lineage — so if an executor is lost mid-job, the lost partitions are
  * NOT recomputable and the QUERY fails (Spark fails the job with a
  * checkpoint-block-missing error rather than silently recomputing).
  * Task-level retry is unaffected (the blocks live on; only executor
  * LOSS bites). This is the one place the engine is weaker than its
  * `ExecutorLossSpec` story, and for these key sizes it is usually the
  * right trade: the pinned frames are the SMALL intermediates (skinny
  * edges, signatures, beam fronts — kilobytes to a few hundred MB),
  * iterative jobs are minutes not hours, and re-running the job on
  * executor loss costs less than paying reliable-store writes every
  * round of every job.
  *
  * For cluster runs where that trade is wrong — long jobs on preemptible
  * executors — set `SPARK_GRAFT_CHECKPOINT_DIR` (env, or the
  * `spark.graft.checkpointDir` JVM property): every pin becomes a
  * RELIABLE `Dataset.checkpoint` into that directory (HDFS/S3 in
  * production), which survives executor loss at the cost of a
  * write-out per pinned frame. Checkpoint files are reclaimed by
  * Spark's own `spark.cleaner.referenceTracking.cleanCheckpoints`, or
  * by deployment-level directory hygiene — [[Cleanup.releaseAll]]
  * frees only the in-memory plane.
  */
object Pin {

  private def reliableDir: Option[String] =
    sys.env.get("SPARK_GRAFT_CHECKPOINT_DIR")
      .orElse(sys.props.get("spark.graft.checkpointDir"))

  /** Materialize `ds` now and truncate its lineage. Local (executor
    * storage, fail-on-executor-loss) by default; reliable (checkpoint
    * dir, survives loss) when [[reliableDir]] is configured. */
  def eager[T](ds: Dataset[T]): Dataset[T] = reliableDir match {
    case Some(dir) =>
      val sc = ds.sparkSession.sparkContext
      if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
      ds.checkpoint(eager = true)
    case None => ds.localCheckpoint(eager = true)
  }

  /** `n` rounds of `step` from `init` (round 0), then `finish` over the
    * last round. Each round is [[eager]]`(step(prev, i))`, so plan depth
    * stays constant and the checkpoint-dir switch applies unchanged; the
    * round it supersedes is freed at once (round 0 too, if the caller
    * pinned it). The result is `finish(last)`, pinned, after which the
    * last round is freed with a blocking release. Under
    * `SPARK_GRAFT_EXPLAIN_ROUND` each round's executed plan goes to
    * stderr as `[tag] round i`; `tag` is the operator's query key. */
  def rounds(tag: String, init: DataFrame, n: Int)(step: (DataFrame, Int) => DataFrame)
            (finish: DataFrame => DataFrame): DataFrame = {
    val explain = sys.env.contains("SPARK_GRAFT_EXPLAIN_ROUND")
    var cur = init
    for (i <- 1 to n) {
      val round = step(cur, i)
      val next = eager(round)
      if (explain) {
        System.err.println(s"[$tag] round $i (post-execution):")
        System.err.println(round.queryExecution.executedPlan.toString)
      }
      Cleanup.freeCheckpoint(cur)
      cur = next
    }
    val res = eager(finish(cur))
    Cleanup.freeCheckpoint(cur, blocking = true)
    res
  }

  /** [[eager]] as a postfix — the drop-in spelling at call sites. */
  implicit class PinOps[T](private val ds: Dataset[T]) extends AnyVal {
    def pinned: Dataset[T] = Pin.eager(ds)
  }
}
