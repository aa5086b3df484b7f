package graft

import graft.Pin.PinOps
import graft.operators.Dedup
import java.lang.management.ManagementFactory
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** The union-find finish of `Dedup.connectedComponents` against its star
  * rounds on synthetic graphs. Per size: wall time of each path end to
  * end (input pin, rounds or union-find, node join, result hash), and
  * the heap union-find retains once every edge is read (its parent map
  * and key array and the vertex objects they hold — the peak of the one
  * finishing task), measured by running it on the driver after a full
  * GC.
  *
  * Usage: FinishSize <long|str8|str64> <random|chain> <edges>...
  * long vertices are Longs; str8/str64 are 8- and 64-character hex ids.
  * random: n edges between uniform endpoints in [0, n); chain: a path
  * of n edges (the star rounds' worst case). */
object FinishSize {
  def main(args: Array[String]): Unit = {
    val Array(vtype, shape) = args.take(2)
    val spark = SparkSession.builder().master("local[4]").appName("finishsize")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val unionFind = Dedup.getClass.getDeclaredMethods.find(_.getName == "unionFind").get
    unionFind.setAccessible(true)
    val order = Dedup.getClass.getDeclaredMethods.find(_.getName == "vertexOrder").get
    order.setAccessible(true)
    val mem = ManagementFactory.getMemoryMXBean
    def usedAfterGc(): Long = {
      (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
      mem.getHeapMemoryUsage.getUsed
    }
    def vertex(c: Column): Column = vtype match {
      case "long" => c
      case "str8" => format_string("%08x", c)
      case "str64" => sha2(c.cast("string"), 256)
    }
    println("vtype,shape,edges,nodes,path,wall_s,uf_heap_mb")
    for (n <- args.drop(2).map(_.toLong)) {
      val ends = shape match {
        case "chain" => (col("id"), col("id") + 1)
        case "random" => (pmod(xxhash64(lit("a"), col("id")), lit(n)),
          pmod(xxhash64(lit("b"), col("id")), lit(n)))
      }
      val pairs = spark.range(n)
        .select(vertex(ends._1).as("doc_a"), vertex(ends._2).as("doc_b")).pinned
      val nodes = pairs.select(col("doc_a").as("doc_id"))
        .union(pairs.select(col("doc_b").as("doc_id"))).distinct().pinned
      val nNodes = nodes.count()
      val inputs = Seq(pairs, nodes).map(_.queryExecution.analyzed)
        .collect { case lr: LogicalRDD => lr.rdd.id }.toSet
      def run(bound: Long): (Double, Row) = {
        val t0 = System.nanoTime()
        val cc = Dedup.connectedComponents(nodes, pairs, bound)
        val h = cc.agg(count(lit(1)),
          sum(xxhash64(col("doc_id"), col("cluster_id")).cast("decimal(38,0)"))).head()
        val s = (System.nanoTime() - t0) / 1e9
        // free the roots, keep the two input pins
        cc.queryExecution.analyzed.collectLeaves().foreach {
          case lr: LogicalRDD if !inputs(lr.rdd.id) => lr.rdd.unpersist(true)
          case _ => ()
        }
        (s, h)
      }
      // star first, then the finish, twice; results must agree
      val runs = for (_ <- 1 to 2; b <- Seq(-1L, Long.MaxValue)) yield {
        val (s, h) = run(b)
        (b, s, h)
      }
      assert(runs.map(_._3).distinct.size == 1, s"paths disagree at $n: $runs")
      // union-find's retained heap, on the driver, over the same rows
      val rows = pairs.collect()
      val ord = order.invoke(Dedup, pairs.toDF("src", "dst").schema)
        .asInstanceOf[Option[Ordering[Any]]].get
      val base = usedAfterGc()
      // fresh vertex objects per row, as a task's row conversion makes
      def fresh(v: Any): Any = v match {
        case l: java.lang.Long => new java.lang.Long(l.longValue)
        case s: String => new String(s.toCharArray)
      }
      val in = rows.iterator.map(r => Row(fresh(r.get(0)), fresh(r.get(1))))
      val out = unionFind.invoke(Dedup, ord, in).asInstanceOf[Iterator[Row]]
      val held = usedAfterGc() - base
      require(out.size < nNodes)
      Cleanup.releaseAll(spark)
      for ((b, s, _) <- runs) {
        val path = if (b < 0) "star" else "finish"
        println(f"$vtype,$shape,$n,$nNodes,$path,$s%.3f,${held / 1e6}%.1f")
      }
    }
    spark.stop()
  }
}
