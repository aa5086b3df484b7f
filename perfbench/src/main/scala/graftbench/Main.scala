package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.{Cleanup, Dials, SparkEntry}
import org.apache.spark.sql.SparkSession

/** Benchmark program: one JVM, `local[cores]`, one client running the
  * workload's `SparkEntry.queries` keys one at a time (closed loop).
  *
  * 1. Set-up of a fresh process: JVM boot, then session start +
  *    `Dials.init` + a warm-up scan, as a deployed engine restarting
  *    pays them.
  * 2. `oracle_sql.json` is written, then the check pass (untimed) collects
  *    every key's result and writes it as parquet for the oracle compare.
  *    This pass also warms code generation and builds the per-corpus
  *    fixtures (codebooks, layouts). The keys then run again, untimed,
  *    until the `--oracle-wait` file exists (the runner's DuckDB work is
  *    done), so timed passes never share the cores with it.
  * 3. Timed passes until `--seconds` have elapsed (at least [[MinPasses]]):
  *    per key, `fn(spark, dir)` + `queryExecution.toRdd.count()` — the
  *    action the engine's own `Bench` uses. With `--cold 1` the fixture
  *    root is emptied before every pass (untimed). With `--trace 1`
  *    passes alternate untraced / traced; traced passes record spans and
  *    Spark listener counters per layer.
  *
  * Everything is written to `<out>/result.json` (and `<out>/trace.json`);
  * the Python runner turns it into the benchmark's metrics. */
object Main {

  /** The fewest timed passes (the runner reports each key's median over
    * them). */
  val MinPasses = 1

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def secs(ns: Long): Double = ns / 1e9

  def session(cores: Int, localDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def main(args: Array[String]): Unit = {
    val bootNs = {
      val start = ProcessHandle.current().info().startInstant()
      if (start.isPresent) (System.currentTimeMillis() - start.get.toEpochMilli) * 1000000L
      else ManagementFactory.getRuntimeMXBean.getUptime * 1000000L
    }
    val data = arg(args, "data")
    val out = arg(args, "out")
    val keys = arg(args, "keys").split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val seconds = arg(args, "seconds").toDouble
    val cores = arg(args, "cores").toInt
    val trace = arg(args, "trace") == "1"
    val cold = arg(args, "cold") == "1"
    val localDir = arg(args, "local-dir")
    val oracleWait = new File(arg(args, "oracle-wait"))
    val fixtureRoot = System.getProperty("java.io.tmpdir")
    new File(out).mkdirs()

    val unknown = keys.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query keys: ${unknown.mkString(",")}")

    // ---- set-up of a fresh process, as a deployed engine restarting --
    val s0 = System.nanoTime()
    val spark = session(cores, localDir)
    val s1 = System.nanoTime()
    Dials.init(spark, data)
    val s2 = System.nanoTime()
    spark.read.parquet(s"$data/documents.parquet").count()
    spark.read.parquet(s"$data/lineitem.parquet").count()
    val s3 = System.nanoTime()
    System.err.println(f"[perfbench] setup ${secs(bootNs + s3 - s0)}%.3f s")
    val sc = spark.sparkContext

    // ---- oracle SQL (built after Dials.init, as the engine's mains do) --
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => keys.contains(k) }
    val tmpSql = Paths.get(s"$out/oracle_sql.json.tmp")
    Files.writeString(tmpSql, Json.obj(oracle.toSeq.map { case (k, v) => k -> Json.str(v) }))
    Files.move(tmpSql, Paths.get(s"$out/oracle_sql.json"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)

    // ---- check pass: results for the oracle (untimed) ----------------
    val errors = mutable.LinkedHashMap[String, String]()
    def errText(e: Throwable): String =
      Option(e.getMessage).getOrElse(e.getClass.getName).replaceAll("\\s+", " ").take(300)
    for (k <- keys) {
      Cleanup.releaseAll(spark)
      val w0 = System.nanoTime()
      // collect() runs the same physical plan the timed passes run, so
      // this pass also warms their code generation; the rows are then
      // written, in order, from a local relation
      try {
        val df = SparkEntry.queries(k)(spark, data)
        val rows = df.collect()
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
          .coalesce(1).write.mode("overwrite").parquet(s"$out/results/$k")
      } catch { case e: Throwable => errors(k) = errText(e) }
      System.err.println(f"[perfbench] check $k ${secs(System.nanoTime() - w0)}%.3f s")
    }
    Cleanup.releaseAll(spark)
    val runKeys = keys.filterNot(errors.contains)
    def clearFixtures(): Unit =
      Option(new File(fixtureRoot).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("graft_fixture_")).foreach(deleteTree)
    // untimed warm passes: one always (after the check pass alone, the
    // first pass of ingest_cold_sf0.1 ran ~1.3x slower than later ones),
    // then more while the runner computes the oracle results beside the
    // JVM, so timed passes start warm and never share the cores with it
    val waitDeadline = System.nanoTime() + 150L * 1000000000L
    def waiting = !oracleWait.exists() && System.nanoTime() < waitDeadline
    var warm = 0
    while (runKeys.nonEmpty && (warm == 0 || waiting)) {
      if (cold) clearFixtures()
      for (k <- runKeys if warm == 0 || waiting) {
        try SparkEntry.queries(k)(spark, data).queryExecution.toRdd.count()
        catch { case e: Throwable => errors.getOrElseUpdate(k, errText(e)) }
        Cleanup.releaseAll(spark)
        System.err.println(s"[perfbench] warm $warm $k")
      }
      warm += 1
    }
    while (waiting) Thread.sleep(20)

    // ---- timed passes --------------------------------------------------
    val tracer = new Tracer
    val listener = new LayerListener(tracer)
    val passes = mutable.ArrayBuffer[String]()
    val t0 = System.nanoTime()
    var n = 0
    while (runKeys.nonEmpty &&
      (n < MinPasses || secs(System.nanoTime() - t0) < seconds || (trace && n % 2 == 1))) {
      val traced = trace && n % 2 == 1
      if (cold) clearFixtures()
      if (traced) { sc.addSparkListener(listener); spark.listenerManager.register(listener) }
      val perKey = runKeys.map { k =>
        if (traced) k -> tracedKey(spark, tracer, listener, k, data)
        else {
          val c0 = cpuNs(); val w0 = System.nanoTime()
          val ok = try { SparkEntry.queries(k)(spark, data).queryExecution.toRdd.count(); true }
          catch { case e: Throwable => errors.getOrElseUpdate(k, errText(e)); false }
          val w1 = System.nanoTime(); val c1 = cpuNs()
          System.err.println(f"[perfbench] pass $n $k ${secs(w1 - w0)}%.3f s")
          Cleanup.releaseAll(spark)
          val row = Json.obj(Seq("wall_s" -> Json.num(secs(w1 - w0)), "cpu_s" -> Json.num(secs(c1 - c0)),
            "ok" -> ok.toString))
          k -> (() => row)
        }
      }
      if (traced) {
        listener.drain()
        sc.removeSparkListener(listener); spark.listenerManager.unregister(listener)
      }
      passes += Json.obj(Seq("traced" -> traced.toString,
        "keys" -> Json.obj(perKey.map { case (k, row) => k -> row() })))
      n += 1
    }

    // ---- retained heap after release ---------------------------------
    Cleanup.releaseAll(spark)
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach(_ => { System.gc(); Thread.sleep(100) })
    val heapMb = mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)

    if (trace) writeTrace(s"$out/trace.json", tracer)
    val result = Json.obj(Seq(
      "setup" -> Json.obj(Seq("boot_s" -> Json.num(secs(bootNs)),
        "session_s" -> Json.num(secs(s1 - s0)), "dials_init_s" -> Json.num(secs(s2 - s1)),
        "warmup_s" -> Json.num(secs(s3 - s2)))),
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "keys" -> Json.arr(keys.map(Json.str)),
      "errors" -> Json.obj(errors.toSeq.map { case (k, v) => k -> Json.str(v) }),
      "heap_retained_mb" -> Json.num(heapMb),
      "passes" -> Json.arr(passes.toSeq)))
    Files.writeString(Paths.get(s"$out/result.json"), result)
    stop(spark)
  }

  /** One key under tracing: key span → build / plan / exec / release.
    * Returns the key's row, to be rendered once the listener bus has
    * drained. */
  private def tracedKey(spark: SparkSession, tracer: Tracer, listener: LayerListener,
                        k: String, data: String): () => String = {
    val sc = spark.sparkContext
    val keyId = tracer.newId()
    val k0 = Tracer.nowNs()
    val c0 = cpuNs()
    var ok = true
    val phases = mutable.ArrayBuffer[Span]()
    var planCount = (0L, 0L, 0L)
    try {
      val (df, b) = tracer.span(sc, keyId, "operators.build")(SparkEntry.queries(k)(spark, data))
      phases += b
      val (qe, p) = tracer.span(sc, keyId, "spark.catalyst.plan") {
        val qe = df.queryExecution; qe.executedPlan; qe }
      phases += p
      val (_, e) = tracer.span(sc, keyId, "spark.exec")(qe.toRdd.count())
      phases += e
      planCount = PlanCount(qe.executedPlan)
    } catch { case _: Throwable => ok = false }
    val c1 = cpuNs()
    val pins = sc.getPersistentRDDs.size
    val pinBytes = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
    val (_, rel) = tracer.span(sc, keyId, "Cleanup.release")(Cleanup.releaseAll(spark))
    val k1 = Tracer.nowNs()
    tracer.add(Span(keyId, 0, s"key:$k", k0, k1))
    def dur(name: String) = phases.filter(_.name == name).map(s => s.end - s.start).sum
    () => {
      val build = phases.filter(_.name == "operators.build")
      val all = listener.collect(phases.map(_.id).toSeq :+ keyId,
        build.map(s => (s.start, s.end)).toSeq)
      val buildJobs = listener.collect(build.map(_.id).toSeq, Nil).jobs
      val wall = phases.map(s => s.end - s.start).sum
      Json.obj(Seq(
        "ok" -> ok.toString,
        "wall_s" -> Json.num(secs(wall)),
        "key_span_s" -> Json.num(secs(k1 - k0)),
        "children_s" -> Json.num(secs(phases.map(s => s.end - s.start).sum + (rel.end - rel.start))),
        "cpu_s" -> Json.num(secs(c1 - c0)),
        "operators.build_s" -> Json.num(secs(dur("operators.build"))),
        "operators.build_jobs" -> buildJobs.toString,
        "spark.catalyst.plan_s" -> Json.num(secs(dur("spark.catalyst.plan") + all.planNs)),
        "spark.exec_s" -> Json.num(secs(dur("spark.exec"))),
        "spark.scheduler.jobs" -> all.jobs.toString,
        "spark.scheduler.stages" -> all.stages.toString,
        "spark.scheduler.tasks" -> all.tasks.toString,
        "spark.scheduler.empty_tasks" -> all.emptyTasks.toString,
        "spark.scheduler.delay_s" -> Json.num(all.delayMs / 1e3),
        "spark.executor.run_s" -> Json.num(secs(all.runNs)),
        "spark.executor.cpu_s" -> Json.num(secs(all.cpuNs)),
        "spark.executor.gc_s" -> Json.num(all.gcMs / 1e3),
        "spark.shuffle.write_bytes" -> all.shuffleWrite.toString,
        "spark.shuffle.read_bytes" -> all.shuffleRead.toString,
        "spark.shuffle.fetch_wait_s" -> Json.num(all.fetchWaitMs / 1e3),
        "spark.memory.spill_bytes" -> all.spill.toString,
        "spark.memory.peak_exec_bytes" -> all.peakExec.toString,
        "spark.stage.skew_weighted" -> Json.num(all.skewWeighted),
        "spark.stage.skew_weight" -> Json.num(all.skewWeight),
        "spark.plan.exchanges" -> (all.exchanges + planCount._1).toString,
        "spark.plan.broadcasts" -> (all.broadcasts + planCount._2).toString,
        "plans.native_nodes" -> (all.nativeNodes + planCount._3).toString,
        "sources.input_bytes" -> all.inBytes.toString,
        "sources.input_records" -> all.inRecords.toString,
        "sinks.output_bytes" -> all.outBytes.toString,
        "sinks.output_records" -> all.outRecords.toString,
        "sinks.write_s" -> Json.num(secs(all.writeRunNs)),
        "Pin.persisted_left" -> pins.toString,
        "Pin.storage_bytes_left" -> pinBytes.toString,
        "Cleanup.release_s" -> Json.num(secs(rel.end - rel.start)),
        "spark.tasks.failed" -> all.failedTasks.toString))
    }
  }

  private def writeTrace(path: String, tracer: Tracer): Unit = {
    val spans = tracer.all
    val self = Tracer.selfTimes(spans)
    Files.writeString(Paths.get(path), Json.arr(spans.sortBy(_.start).map { s =>
      Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "name" -> Json.str(s.name), "start_ns" -> s.start.toString,
        "dur_s" -> Json.num(secs(s.end - s.start)),
        "self_s" -> Json.num(secs(self.getOrElse(s.id, 0L)))))
    }))
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** Minimal JSON text helpers (values are pre-rendered strings). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
