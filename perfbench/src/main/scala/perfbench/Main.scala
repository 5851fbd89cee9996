package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark harness: runs one workload against the engine in this JVM and
  * writes the raw samples (ops, spans, Spark jobs, streaming progress,
  * checks) to `--result` as JSON. `perfbench/run.py` prepares the inputs,
  * launches this, checks outputs and computes the metrics.
  *
  * {{{
  *   java -cp <classpath> perfbench.Main --workload etl_batch --rounds 8 \
  *     --trace 0 --result out.json --cores 4 --scratch <dir> [--<arg> <value>]...
  * }}}
  */
object Main {

  def session(cores: Int, scratch: String): SparkSession = {
    // the settings graft.Bench uses, plus scratch locations inside the
    // benchmark's own work directory
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    graft.expr.GraftFunctions.register(spark)
    spark
  }

  private def peakRssKb: Long =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
    catch { case _: Exception => -1L }

  def main(argv: Array[String]): Unit = {
    val mainEntered = Clock.nowMs
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val tracing = args("trace") == "1"
    val cores = args("cores").toInt
    val spark = session(cores, args("scratch"))
    val sessionReady = Clock.nowMs
    val rec = new Recorder(tracing)
    val jobs = new JobListener
    val progress = new ProgressListener
    if (tracing) {
      spark.sparkContext.addSparkListener(jobs)
      spark.streams.addListener(progress)
    }
    val ctx = Ctx(spark, rec, args)
    val out = workload match {
      case "etl_batch" => Workloads.etlBatch(ctx)
      case "etl_stream" => Workloads.etlStream(ctx)
      case "table_lifecycle" => Workloads.tableLifecycle(ctx)
      case "query_mix" => Workloads.queryMix(ctx)
      case "train" => Workloads.train(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    if (tracing) jobs.settle()
    val spanJson = rec.spans.map(s => Json.arr(Seq(s.id.toString, s.parent.toString,
      Json.str(s.kind), Json.str(s.name), Json.str(s.run), Json.num(s.start), Json.num(s.end))))
    val jobJson = jobs.synchronized(jobs.jobs.values.toSeq).map(j => Json.arr(Seq(
      j.id, j.start, j.end, j.tasks, j.runMs, j.shuffleBytes).map(_.toString)))
    val result = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "cores" -> spark.sparkContext.defaultParallelism.toString,
      "main_entered" -> Json.num(mainEntered),
      "session_ready" -> Json.num(sessionReady),
      "first_op" -> Json.num(out.firstOp),
      "end" -> Json.num(out.end),
      "gc_ms" -> out.gcMs.toString,
      "peak_rss_kb" -> peakRssKb.toString,
      "checks" -> Json.arr(out.checks.map { case (n, ok, d) =>
        Json.obj(Seq("name" -> Json.str(n), "ok" -> ok.toString, "detail" -> Json.str(d))) }),
      "spans" -> Json.arr(spanJson),
      "jobs" -> Json.arr(jobJson),
      "stream_progress" -> Json.arr(progress.synchronized(progress.events.toSeq)),
    ) ++ out.extra)
    Files.writeString(Paths.get(args("result")), result)
    spark.stop()
  }
}
