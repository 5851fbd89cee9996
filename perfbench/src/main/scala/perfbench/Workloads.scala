package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.etl.{PipelineBatch, PipelineStream, SpotifyTransform}
import graft.ops.{MaterializedView, Q, VersionedTable}

/** What a workload hands back besides the recorder's spans. */
final class Outcome {
  var firstOp: Double = Double.NaN
  var end: Double = Double.NaN
  var gcMs = 0L
  private var gc0 = 0L
  val checks = ArrayBuffer.empty[(String, Boolean, String)]
  val extra = ArrayBuffer.empty[(String, String)]

  /** The timed phase starts at `t` (epoch ms) and ends at `stop()`. */
  def start(t: Double = Clock.nowMs): Unit = { firstOp = t; gc0 = Outcome.gcTotal }
  def stop(): Unit = { end = Clock.nowMs; gcMs = Outcome.gcTotal - gc0 }
  def check(name: String, ok: Boolean, detail: String = ""): Unit =
    checks += ((name, ok, detail))
}

object Outcome {
  def gcTotal: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).filter(_ >= 0).sum
}

final case class Ctx(spark: SparkSession, rec: Recorder, args: Map[String, String]) {
  def arg(k: String): String = args.getOrElse(k, sys.error(s"missing --$k"))
  def int(k: String): Int = arg(k).toInt

  /** Run exactly `--rounds` rounds back to back: the timed phase. */
  def timedRounds(out: Outcome)(round: Int => Unit): Unit = {
    out.start()
    (0 until int("rounds")).foreach(round)
    out.stop()
  }
}

object Workloads {

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Order-independent content digest: (row count, sum of per-row hashes).
    * Floating columns are rendered to 9 significant digits first, so a
    * summation-order difference in the last bits does not change the digest.
    */
  def digest(df: DataFrame): (Long, Long) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols: Seq[Column] = named.schema.fields.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => format_string("%.9g", col(f.name))
        case _: ArrayType | _: StructType | _: MapType => to_json(col(f.name))
        case _ => col(f.name)
      }
    }
    val h = if (cols.isEmpty) lit(0L) else pmod(xxhash64(cols: _*), lit(1000000007L))
    val r = named.select(h.as("h")).agg(count(lit(1)), coalesce(sum(col("h")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  // ------------------------------------------------------------ etl_batch

  def etlBatch(c: Ctx): Outcome = {
    val out = new Outcome
    val in = c.arg("in"); val outDir = c.arg("out")
    (0 until c.int("warm")).foreach(i => PipelineBatch.run(c.spark, in, outDir, s"warm$i"))
    val runs = ArrayBuffer.empty[String]
    c.timedRounds(out) { i =>
      val runId = s"r$i"
      val counts = c.rec.op("etl.batch.run", runId) {
        PipelineBatch.run(c.spark, in, outDir, runId)
      }
      runs += s"${runId}:${counts._1}:${counts._2}:${counts._3}"
    }
    // the traced run's split of a run into layers, after the timed phase so
    // its jobs stay out of the timed phase's Spark totals. Each transform
    // span parses the landed JSON again, as the run does once per table.
    c.rec.traced {
      (0 until c.int("rounds")).foreach { i =>
        val runId = s"r$i"
        c.rec.span("etl.batch.read", runId) {
          PipelineBatch.readLanding(c.spark, in).count()
        }
        val (songs, artists, albums) =
          SpotifyTransform(PipelineBatch.readLanding(c.spark, in))
        c.rec.span("etl.transform.songs", runId)(noop(songs))
        c.rec.span("etl.transform.artists", runId)(noop(artists))
        c.rec.span("etl.transform.albums", runId)(noop(albums))
      }
    }
    out.extra += "runs" -> Json.arr(runs.map(Json.str))
    out
  }

  // ----------------------------------------------------------- etl_stream

  def etlStream(c: Ctx): Outcome = {
    val out = new Outcome
    val spark = c.spark
    val staged = Paths.get(c.arg("staged"))
    val inbox = Paths.get(c.arg("inbox"))
    Files.createDirectories(inbox)
    val pages = Files.list(staged).iterator().asScala.toSeq.map(_.getFileName.toString)
      .filter(_.endsWith(".json")).sorted
    val rate = c.arg("rate").toDouble
    val warm = c.int("warm")
    val n = c.int("rounds")
    require(pages.size >= warm + n, "etl_stream: not enough staged pages")

    def land(name: String): Double = {
      val src = staged.resolve(name)
      // fresh mtime: the file source orders new files by modification time
      Files.setLastModifiedTime(src, java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
      Files.move(src, inbox.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      Clock.nowMs
    }
    val q = PipelineStream.start(spark, inbox.toString, c.arg("out"), c.arg("archive"),
      c.arg("ckpt"), Trigger.ProcessingTime(c.int("trigger-ms").toLong))
    def doneBatches = q.recentProgress.count(_.numInputRows > 0)
    def awaitBatches(k: Int, timeoutMs: Double): Boolean = {
      val deadline = Clock.nowMs + timeoutMs
      while (doneBatches < k && Clock.nowMs < deadline && q.isActive) Thread.sleep(10)
      doneBatches >= k
    }
    try {
      // warm-up: one file at a time, each drained before the next
      pages.take(warm).zipWithIndex.foreach { case (p, i) =>
        land(p)
        require(awaitBatches(i + 1, 120000), s"etl_stream: warm-up batch $i did not finish")
      }
      val landed = new AtomicInteger(0)
      val landedAt = new Array[Double](n)
      val t0 = Clock.nowMs + 50
      val due = Array.tabulate(n)(i => t0 + i * 1000.0 / rate)
      // the lander: an open loop on a fixed schedule that never waits for the
      // system, so a slow batch makes later files wait instead of arriving later
      val lander = new Thread(() => {
        var i = 0
        while (i < n) {
          val wait = due(i) - Clock.nowMs
          if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
          landedAt(i) = land(pages(warm + i))
          landed.incrementAndGet()
          i += 1
        }
      }, "etl_stream-lander")
      out.start(t0)
      lander.start()
      var backlogMax = 0
      val deadline = t0 + n * 1000.0 / rate + 120000
      while ((doneBatches < warm + n) && Clock.nowMs < deadline && q.isActive) {
        backlogMax = math.max(backlogMax, landed.get() - (doneBatches - warm))
        Thread.sleep(20)
      }
      lander.join()
      val progress = q.recentProgress.filter(_.numInputRows > 0).sortBy(_.batchId)
      require(progress.length >= warm + n,
        s"etl_stream: ${progress.length - warm} of $n files processed in time")
      out.stop()
      // one micro-batch per file, in landing order: file i is timed batch i,
      // and its latency runs from its due time to the end of that batch
      val timed = progress.slice(warm, warm + n)
      val ends = timed.map(p => java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble +
        p.durationMs.get("triggerExecution").longValue())
      val batches = timed.indices.map { i =>
        c.rec.spans += Span(-1, -1, "op", "etl.stream.file", s"b${timed(i).batchId}", due(i), ends(i))
        Json.obj(Seq("batch" -> timed(i).batchId.toString, "page" -> (warm + i).toString,
          "due" -> Json.num(due(i)), "landed" -> Json.num(landedAt(i)), "end" -> Json.num(ends(i))))
      }
      out.extra += "batches" -> Json.arr(batches)
      out.extra += "backlog_max" -> backlogMax.toString
    } finally {
      q.stop()
    }
    out
  }

  // ------------------------------------------------------ table_lifecycle

  /** Order-independent digest the Python model reproduces exactly. */
  def tableDigest(df: DataFrame): (Long, Long) = {
    val h = pmod(col("l_id") * 1000003L + col("l_partkey") * 1009L +
      col("l_quantity").cast(LongType) * 13L +
      round(col("l_extendedprice") * 100).cast(LongType), lit(1000000007L))
    val r = df.agg(count(lit(1)), coalesce(sum(h), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  def tableLifecycle(c: Ctx): Outcome = {
    val out = new Outcome
    val spark = c.spark
    val dir = c.arg("inputs"); val root = c.arg("root"); val mv = c.arg("mv")
    def input(name: String) = spark.read.parquet(s"$dir/$name.parquet")
    require(VersionedTable.createIfAbsent(spark, root, input("init")),
      "table_lifecycle: table root already exists")
    require(MaterializedView.create(spark, mv, root, Seq("l_partkey"),
      "cnt:count, qty:sum(l_quantity)"), "table_lifecycle: mv root already exists")
    def round(k: Int, timed: Boolean): Unit = {
      val run = s"round$k"
      def op[T](name: String)(body: => T): T = if (timed) c.rec.op(name, run)(body) else body
      op("ops.table.append") {
        VersionedTable.commit(spark, root, input(s"r${k}_append"), overwrite = false)
      }
      op("ops.table.merge") {
        VersionedTable.mergeInto(spark, root, input(s"r${k}_merge"), "l_id")
      }
      op("ops.table.delete") {
        VersionedTable.deleteWhereMor(spark, root, col("l_id") % 97 === (k % 97), "l_id")
      }
      op("ops.table.read")(noop(VersionedTable.readAt(spark, root)))
      op("ops.mview.refresh")(MaterializedView.refresh(spark, mv))
    }
    val warm = c.int("warm")
    (0 until warm).foreach(k => round(k, timed = false)) // in the model, not timed
    c.timedRounds(out)(i => round(warm + i, timed = true))
    val (cnt, hash) = tableDigest(VersionedTable.readAt(spark, root))
    val fresh = VersionedTable.readAt(spark, root).groupBy("l_partkey")
      .agg(count(lit(1)).as("cnt"), sum("l_quantity").as("qty"))
    val stored = VersionedTable.readAt(spark, mv).select("l_partkey", "cnt", "qty")
    val diff = fresh.exceptAll(stored).count() + stored.exceptAll(fresh).count()
    out.check("mview_equals_recompute", diff == 0, s"$diff differing rows")
    val files = Files.walk(Paths.get(root)).iterator().asScala
      .count(p => p.toString.endsWith(".parquet"))
    out.extra ++= Seq("rounds_done" -> c.int("rounds").toString, "count" -> cnt.toString,
      "hash" -> hash.toString,
      "versions" -> VersionedTable.versions(spark, root).size.toString,
      "files" -> files.toString)
    out
  }

  // ------------------------------------------------------------ query_mix

  def family(name: String): String = name.head match {
    case 'q' => "relational"
    case 'd' => "corpus"
    case 'e' => "similarity"
    case 'g' => "graph"
    case _ => "other"
  }

  def queryMix(c: Ctx): Outcome = {
    val out = new Outcome
    val spark = c.spark
    val data = c.arg("data")
    val all = graft.SparkEntry.queries
    val names = c.arg("queries").split(',').toSeq
    // check pass, outside the timed phase; it also warms the input-schema
    // cache, the JIT and the compiled noop-drained plans the timed pass
    // runs, as a long-running deployment would have them
    val results = names.map { q =>
      Q.releaseAll(spark)
      val r = try {
        val df = all(q)(spark, data)
        noop(df)
        val (n, h) = digest(df)
        Json.obj(Seq("rows" -> n.toString, "hash" -> h.toString))
      } catch {
        case e: Throwable => Json.obj(Seq("error" -> Json.str(e.toString.take(300))))
      }
      q -> r
    }
    out.extra += "results" -> Json.obj(results)
    val built = ArrayBuffer.empty[(String, DataFrame)]
    c.timedRounds(out) { pass =>
      names.foreach { q =>
        Q.releaseAll(spark)
        val run = s"$q#$pass"
        c.rec.op(s"ops.pack.${family(q)}", run) {
          val df = c.rec.span("ops.pack.build", run)(all(q)(spark, data))
          c.rec.traced(built += run -> df)
          c.rec.span("ops.pack.exec", run)(noop(df))
        }
      }
    }
    Q.releaseAll(spark)
    // planning, split out in the traced run after the timed phase: the noop
    // write plans its own copy of the query, so forcing the DataFrame's plan
    // inside the op would add work the untraced run does not do
    c.rec.traced(built.foreach { case (run, df) =>
      c.rec.span("ops.pack.plan", run) { df.queryExecution.executedPlan; () }
    })
    out
  }

  // ---------------------------------------------------------------- train

  /** Class-loading training run for the JVM's class-data-sharing archive:
    * touches every layer the workloads use on tiny inputs, untimed. Run
    * once per build, which fails if this run does; every measured run then
    * starts from the same archive.
    */
  def train(c: Ctx): Outcome = {
    val spark = c.spark
    val dir = c.arg("dir")
    PipelineBatch.run(spark, s"$dir/pages", s"$dir/batch", "train")
    PipelineStream.start(spark, s"$dir/pages", s"$dir/stream",
      s"$dir/archive", s"$dir/ckpt").awaitTermination()
    val root = s"$dir/table"; val mv = s"$dir/mview"
    val rows = spark.read.parquet(s"$dir/tables/lineitem.parquet")
      .withColumn("l_id", monotonically_increasing_id())
    VersionedTable.createIfAbsent(spark, root, rows)
    MaterializedView.create(spark, mv, root, Seq("l_partkey"), "cnt:count, qty:sum(l_quantity)")
    VersionedTable.commit(spark, root, rows.limit(10), overwrite = false)
    VersionedTable.mergeInto(spark, root, rows.limit(10), "l_id")
    VersionedTable.deleteWhereMor(spark, root, col("l_id") % 97 === 0, "l_id")
    tableDigest(VersionedTable.readAt(spark, root))
    MaterializedView.refresh(spark, mv)
    c.arg("queries").split(',').foreach { q =>
      Q.releaseAll(spark)
      digest(graft.SparkEntry.queries(q)(spark, s"$dir/tables"))
    }
    val out = new Outcome
    out.start(); out.stop()
    out
  }
}
