package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s.{DefaultFormats, Extraction}
import org.json4s.jackson.JsonMethods

import graft.{Pipelines, SparkEntry}
import graft.ops.Sources

/** The in-process half of the benchmark: runs one workload against
  * graft's public entry points and writes every raw timing, listener
  * record and span to one JSON file. `run.py` generates the inputs,
  * starts this program, checks the outputs and derives the metrics.
  *
  * Arguments are `key=value`: workload, data (fixture dir), work, out,
  * seconds, trace (0|1), cores, calls (comma list in run
  * order: `SparkEntry.queries` names and `Pipelines` era names) and, when
  * the workload ingests, users_csv, users_parquet, files, rate, max_files.
  */
object Harness {

  val Eras = Seq("basic2016", "validated2018", "parallel2020", "quality2022")

  final case class Call(pass: Int, name: String, traced: Boolean, start: Double,
                        build: Double, plan: Double, exec: Double, error: String,
                        result: Any)

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val workload = opt("workload")
    val data = opt("data")
    val work = opt("work")
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val calls = opt.getOrElse("calls", "").split(",").filter(_.nonEmpty).toSeq
    val usersCsv = opt.get("users_csv")

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime / 1e3
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReady = Clock.now()

    val spans = new Spans
    val root = spans.open(-1, workload, "workload")
    val collector = new StageCollector
    val out = mutable.LinkedHashMap.empty[String, Any]
    out("workload") = workload
    out("cores") = cores
    out("session_s") = sessionReady - jvmStart

    // inputs are generated while the JVM starts; wait until they are
    val ready = Paths.get(data).getParent.resolve("READY")
    val readyBy = System.nanoTime() + 120_000_000_000L
    while (!Files.exists(ready) && System.nanoTime() < readyBy) Thread.sleep(10)
    out("input_wait_s") = Clock.now() - sessionReady

    // ---- set-up: the fixture schema check
    val check0 = Clock.now()
    Sources.assertFixtureSchemas(spark, data)
    out("schema_check_s") = Clock.now() - check0

    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val callLog = mutable.ArrayBuffer.empty[Call]
    val jobs = mutable.ArrayBuffer.empty[Map[String, Any]]
    val stages = mutable.ArrayBuffer.empty[Map[String, Any]]

    def setSpan(v: String): Unit =
      spark.sparkContext.setLocalProperty(collector.SpanKey, v)

    /** Attach the listener for a traced pass and detach it once its
      * events have all arrived, so untraced passes carry no listener. */
    def withListener[T](on: Boolean)(body: => T): T =
      if (!on) body
      else {
        spark.sparkContext.addSparkListener(collector)
        try body
        finally {
          val deadline = System.nanoTime() + 10_000_000_000L
          while (!collector.idle && System.nanoTime() < deadline) Thread.sleep(5)
          spark.sparkContext.removeSparkListener(collector)
          val (j, s) = collector.take()
          jobs ++= j
          stages ++= s
        }
      }

    def passDir(pass: Int) = s"$work/passes/p$pass"

    def era(name: String, dir: String): Any = {
      val csv = usersCsv.get
      name match {
        case "basic2016" => Pipelines.basic2016(spark, csv, s"$dir/basic")
        case "validated2018" =>
          val v = Pipelines.validated2018(spark, csv, s"$dir/valid", s"$dir/reject")
          Map("loaded" -> v.loaded, "rejected" -> v.rejected)
        case "parallel2020" =>
          Pipelines.parallel2020(spark, csv, s"$dir/parallel")
            .map { case (k, v) => k -> v.toString.toDouble }
        case "quality2022" =>
          val q = Pipelines.quality2022(spark, csv, s"$dir/quality")
          Map("loaded" -> q.loaded, "dup_rows" -> q.report.dupRows,
            "valid_rows" -> q.report.validRows, "total_rows" -> q.report.totalRows)
      }
    }

    /** One call, timed at the three boundaries the benchmark controls:
      * build (the graft call returning the DataFrame), plan (forcing the
      * executed plan) and execute (noop write, or the parquet dump the
      * check reads when `checkDir` is set). An era call is one eager
      * graft call that builds and runs its own jobs; it counts as
      * execute. */
    def runCall(parent: Int, pass: Int, name: String, traced: Boolean,
                checkDir: Option[String]): Call = {
      val call = spans.open(parent, name, "call")
      var b, p, e = 0.0
      var err = ""
      var result: Any = null
      def phase(kind: String)(body: => Unit): Double = {
        if (traced) setSpan(s"${call.id}:$kind")
        val ph = spans.open(call.id, name, kind)
        try body finally setSpan(null)
        val s = spans.close(ph)
        s.end - s.start
      }
      try {
        if (Eras.contains(name)) e = phase("execute") { result = era(name, passDir(pass)) }
        else {
          var df: DataFrame = null
          b = phase("build") { df = SparkEntry.queries(name)(spark, data) }
          p = phase("plan") { df.queryExecution.executedPlan: Unit }
          e = phase("execute") {
            checkDir match {
              case Some(d) => df.repartition(1).write.mode("overwrite").parquet(s"$d/$name")
              case None => df.write.format("noop").mode("overwrite").save()
            }
          }
        }
      } catch {
        case ex: Throwable => err = s"${ex.getClass.getName}: ${ex.getMessage}".take(400)
      }
      spans.close(call, Map("pass" -> pass, "ok" -> err.isEmpty))
      Call(pass, name, traced, call.start, b, p, e, err, result)
    }

    def sizeOf(dir: Path): (Long, Long) =
      if (!Files.exists(dir)) (0L, 0L)
      else {
        val fs = Files.walk(dir).iterator().asScala.filter { f =>
          Files.isRegularFile(f) && f.getFileName.toString.startsWith("part-")
        }.toSeq
        (fs.size.toLong, fs.map(Files.size).sum)
      }

    /** CPU time the host took from this VM (all cpus), from /proc/stat;
      * 0 where the file or the field is missing. */
    def stealS(): Double =
      try {
        val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
        if (f.length > 8) f(8).toDouble / 100.0 else 0.0
      } catch { case _: Throwable => 0.0 }

    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    def runPass(pass: Int, traced: Boolean, checkDir: Option[String]): Map[String, Any] = {
      val steal0 = stealS()
      val cpu0 = os.getProcessCpuTime
      val ps = spans.open(root.id, s"pass$pass", "pass")
      val cs = withListener(traced)(calls.map(n => runCall(ps.id, pass, n, traced, checkDir)))
      val s = spans.close(ps, Map("traced" -> traced))
      callLog ++= cs
      val (files, bytes) = sizeOf(Paths.get(passDir(pass)))
      // keep the check pass's era outputs; drop every later pass's
      if (checkDir.isEmpty) deleteTree(Paths.get(passDir(pass)))
      Map("pass" -> pass, "traced" -> traced, "start" -> s.start,
        "wall_s" -> (s.end - s.start), "sink_files" -> files, "sink_bytes" -> bytes,
        "cpu_s" -> (os.getProcessCpuTime - cpu0) / 1e9, "host_steal_s" -> (stealS() - steal0))
    }

    // ---- warm-up pass (part of set-up); it writes every query's output
    // for the untimed correctness check instead of the noop sink
    val warm0 = Clock.now()
    val checkPass = runPass(-1, traced = false, Some(s"$work/check"))
    out("warmup_s") = Clock.now() - warm0
    out("check_pass") = checkPass

    // ---- timed window: at least three passes, so the median pass is past
    // the JIT work that still runs in the first; another starts while it
    // is expected to end by the deadline. A traced run traces the odd
    // passes only, so one run also measures the tracing overhead against
    // the untraced passes on either side
    val ingest = usersCsv.map(_ => new Ingest(spark, opt, spans, root.id, setSpan))
    val window0 = Clock.now()
    val deadline = window0 + seconds - ingest.map(_.streamSeconds).getOrElse(0.0)
    var pass = 0
    var last = 0.0
    while (pass < 3 || Clock.now() + last <= deadline) {
      val p = runPass(pass, trace && pass % 2 == 1, None)
      passes += p
      last = p("wall_s").asInstanceOf[Double]
      pass += 1
    }
    ingest.foreach(ig => out("stream") = withListener(trace)(ig.stream()))
    out("window_start") = window0
    out("window_s") = Clock.now() - window0

    // ---- retained heap after a full GC at the end of the run
    System.gc(); Thread.sleep(200); System.gc(); Thread.sleep(200)
    out("heap_retained_mb") =
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    spans.close(root)
    out("check") = Map("dir" -> s"$work/check", "eras_dir" -> passDir(-1),
      "oracle_sql" -> SparkEntry.oracleSql.filter { case (k, _) => calls.contains(k) })
    out("passes") = passes.toSeq
    out("calls") = (callLog.toSeq).map(c => Map("pass" -> c.pass, "name" -> c.name,
      "traced" -> c.traced, "start" -> c.start, "build_s" -> c.build,
      "plan_s" -> c.plan, "exec_s" -> c.exec, "error" -> c.error, "result" -> c.result))
    out("jobs") = jobs.toSeq
    out("stages") = stages.toSeq
    out("spans") = spans.all
    Files.writeString(Paths.get(opt("out")),
      JsonMethods.compact(Extraction.decompose(out)(DefaultFormats)))
    spark.stop()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).iterator()
        .asScala.foreach(Files.delete)
}

/** The 2025 streaming era in an open loop: a dropper thread renames one
  * pre-staged parquet file into the watched dir every 1/rate seconds
  * while the query consumes them. Lag is derived afterwards from the drop
  * schedule, the progress reports and the checkpoint's source log. */
final class Ingest(spark: SparkSession, opt: Map[String, String], spans: Spans,
                   rootId: Int, setSpan: String => Unit) {
  private val work = opt("work")
  private val staged = opt("users_parquet")
  private val files = opt("files").toInt
  private val rate = opt("rate").toDouble
  private val maxFiles = opt("max_files").toInt
  /** Share of the timed window the stream takes: the drop schedule plus
    * a second to drain. */
  val streamSeconds: Double = files / rate + 1.0

  def stream(): Map[String, Any] = {
    val in = s"$work/stream/in"
    val ckpt = s"$work/stream/checkpoint"
    Files.createDirectories(Paths.get(in))
    val toDrop = new File(staged).listFiles().filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName).take(files).toSeq
    val listener = new ProgressCollector
    spark.streams.addListener(listener)
    val span = spans.open(rootId, "streaming2025", "stream")
    setSpan("stream:execute")
    val query = try Pipelines.streaming2025(spark, in, s"$work/stream/out", ckpt,
      s"$work/stream/archive", Some(maxFiles)).start()
      finally setSpan(null)
    val t0 = Clock.now() + 0.2
    val drops = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
    val dropper = new Thread(() => toDrop.zipWithIndex.foreach { case (f, i) =>
      val due = t0 + i / rate
      val wait = due - Clock.now()
      if (wait > 0) Thread.sleep((wait * 1000).toLong)
      val target = Paths.get(in, f.getName)
      Files.move(f.toPath, target, StandardCopyOption.ATOMIC_MOVE)
      drops.add(Map("file" -> f.getName, "due" -> due, "dropped" -> Clock.now()))
    }, "perfbench-dropper")
    dropper.start()
    dropper.join()
    query.processAllAvailable()
    query.stop()
    // progress events arrive asynchronously; wait for the last batch's
    val BatchId = "\"batchId\"\\s*:\\s*(\\d+)".r.unanchored
    val last = Option(new File(s"$ckpt/commits").list()).toSeq.flatten
      .filter(_.forall(_.isDigit)).map(_.toLong).maxOption.getOrElse(-1L)
    val deadline = System.nanoTime() + 5_000_000_000L
    def seen = listener.all.exists {
      case BatchId(b) => b.toLong == last
      case _ => false
    }
    while (System.nanoTime() < deadline && !seen) Thread.sleep(20)
    spark.streams.removeListener(listener)
    val s = spans.close(span)
    Map("drops" -> drops.asScala.toSeq, "progress" -> listener.all.map(JsonMethods.parse(_)),
      "checkpoint" -> ckpt, "out" -> s"$work/stream/out", "start" -> s.start,
      "end" -> s.end, "files" -> toDrop.size, "rate" -> rate)
  }
}
