import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Prints every `connectedComponents` witness (live edge count) a
  * `SparkEntry.queries` key observes, next to the union-find finish
  * bound of the session (threshold over the edge row's default size).
  * The first witness of a call is its input edge set; the call
  * finishes in one task when that count is under the bound, else the
  * following witnesses are its star rounds.
  * Usage: KeyWitness <data dir> <key>... */
object KeyWitness {
  def main(args: Array[String]): Unit = {
    val data = args.head
    val spark = SparkSession.builder().master("local[4]").appName("keywitness")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.GraftFunctions.register(spark)
    graft.Dials.init(spark, data)
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    val seen = scala.collection.mutable.ArrayBuffer[String]()
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        qe.observedMetrics.get("witness").foreach { w =>
          val size = qe.analyzed.schema.defaultSize
          seen.synchronized(seen += s"${w.getLong(0)}/${threshold / size}")
        }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    println("key,witnesses (live edges/bound)")
    for (key <- args.tail) {
      graft.SparkEntry.queries(key)(spark, data).queryExecution.toRdd.count()
      Thread.sleep(2000) // the listener bus delivers asynchronously
      println(s"$key,${seen.synchronized { val s = seen.mkString(" "); seen.clear(); s }}")
      graft.Cleanup.releaseAll(spark)
    }
    spark.stop()
  }
}
