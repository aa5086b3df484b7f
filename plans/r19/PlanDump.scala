import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Prints the executed plan of every Dataset action (pins, witness
  * aggregates) one `SparkEntry.queries` key runs, then runs the key the
  * way the benchmark does. Usage: PlanDump <data dir> <key>. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(data, key) = args
    val spark = SparkSession.builder().master("local[4]").appName("plandump")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.GraftFunctions.register(spark)
    graft.Dials.init(spark, data)
    var n = 0
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = synchronized {
        n += 1
        println(s"===== action $n: $f")
        println(qe.executedPlan.toString)
      }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    graft.SparkEntry.queries(key)(spark, data).queryExecution.toRdd.count()
    Thread.sleep(2000) // the listener bus delivers asynchronously
    println(s"===== $n actions")
    spark.stop()
  }
}
