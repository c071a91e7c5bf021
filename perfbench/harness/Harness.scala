package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{GraftCaches, GraftSession, SparkEntry}
import graft.model.Course
import graft.operators.Syllabus
import graft.sinks.{CourseJson, JsonSinks}
import graft.sources.{DocSource, Periods, Tables}

/** Closed-loop benchmark harness: one client thread runs a workload's named
  * steps in sequence, pass after pass, against graft's public API.
  *
  * Arguments are `key=value` pairs (see `perfbench/run.py`, which builds
  * them). The JVM writes one JSON result file; the runner checks outputs
  * and prints the metrics. Timeline of a run:
  *
  *  1. session + inputs readable (`setup_s` ends here, measured from the
  *     runner's launch timestamp, so JVM start is included);
  *  2. `warm_passes` untimed warm-up passes;
  *  3. timed passes until `seconds` seconds have elapsed (whole passes);
  *  4. full GC, retained heap, then the check outputs (untimed).
  */
object Harness {

  private def nowS(): Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond + i.getNano / 1e9
  }

  /** Wall spans per layer, and the listener-side counters, for one pass. */
  final class Tracer(spark: SparkSession, traced: Boolean) {
    val PhaseKey = "perfbench.phase"
    private val spans = mutable.Map.empty[String, Double].withDefaultValue(0.0)

    def span[T](layer: String)(f: => T): T = {
      spark.sparkContext.setLocalProperty(PhaseKey, layer)
      val t0 = System.nanoTime()
      try f
      finally {
        spans(layer) += (System.nanoTime() - t0) / 1e9
        spark.sparkContext.setLocalProperty(PhaseKey, null)
      }
    }

    // Listener-side state, touched only on the listener-bus thread until
    // `closePass` drains the bus.
    private val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    private val jobKind = mutable.Map.empty[Int, (String, Long)]
    private val stageKind = mutable.Map.empty[Int, String]

    /** A job whose call site (the stage name Spark records, e.g.
      * "parquet at Tables.scala:16") lies in graft's sources package. */
    private def isSourceSite(e: SparkListenerJobStart): Boolean =
      e.stageInfos.exists { si =>
        val n = si.name
        n.contains("Tables.scala") || n.contains("DocSource.scala") || n.contains("Periods.scala")
      }

    private val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val phase = Option(e.properties).flatMap(p => Option(p.getProperty(PhaseKey)))
          .getOrElse("other")
        val kind = phase match {
          case "sources" => "sources"
          case "build" if isSourceSite(e) => "srcbuild"
          case "build" => "queries"
          case "exec" | "sinks" => "operators"
          case other => other
        }
        jobKind(e.jobId) = (kind, e.time)
        e.stageIds.foreach(s => stageKind(s) = kind)
        counters(s"jobs.$kind") += 1
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobKind.remove(e.jobId).foreach { case (kind, t0) =>
          counters(s"job_s.$kind") += (e.time - t0) / 1000.0
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        counters(s"stages.${stageKind.getOrElse(e.stageInfo.stageId, "other")}") += 1
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach { m =>
          counters("executor_cpu_s") += m.executorCpuTime / 1e9
          counters("input_mb") += m.inputMetrics.bytesRead / 1e6
          counters("shuffle_mb") += m.shuffleWriteMetrics.bytesWritten / 1e6
          counters("spill_mb") += (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6
        }
    }

    private val qeListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.tracker.phases.foreach { case (phase, s) =>
          counters(s"plan.$phase") += s.durationMs / 1000.0
        }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }

    if (traced) {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(qeListener)
    }

    /** Drains the bus and returns this pass's spans and counters. */
    def closePass(): (Map[String, Double], Map[String, Double]) = {
      if (traced) BusDrain.drain(spark.sparkContext)
      val out = (spans.toMap.withDefaultValue(0.0), counters.toMap.withDefaultValue(0.0))
      spans.clear()
      counters.clear()
      out
    }
  }

  trait Workload {
    def steps: Seq[(String, () => Unit)]
    def opsPerPass: Int
    def outputDir: Option[Path]
    def writeChecks(): Unit
  }

  final class QueryWorkload(spark: SparkSession, tr: Tracer, tables: String,
      names: Seq[String], work: Path) extends Workload {
    private val fns = names.map(n => n -> SparkEntry.queries(n))
    private def release(): Unit = tr.span("release") {
      spark.catalog.clearCache()
      GraftCaches.releaseAll()
    }
    // The last timed execution's result of each query, checked after the
    // window.
    private val last = mutable.Map.empty[String, (Array[Row], StructType)]
    val steps: Seq[(String, () => Unit)] = fns.map { case (name, fn) =>
      name -> { () =>
        try {
          val df = tr.span("build")(fn(spark, tables))
          last(name) = (tr.span("exec")(df.collect()), df.schema)
        } finally release()
      }
    }
    def opsPerPass: Int = names.size
    def outputDir: Option[Path] = None
    def writeChecks(): Unit = {
      val out = work.resolve("results")
      Files.createDirectories(out)
      last.foreach { case (name, (rows, schema)) =>
        spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(out.resolve(name).toString)
      }
      val oracles = names.map(n => Json.str(n) + ":" + Json.str(SparkEntry.oracleSql(n)))
      Files.writeString(out.resolve("oracle_sql.json"), oracles.mkString("{", ",", "}"))
    }
  }

  final class SyllabusWorkload(spark: SparkSession, tr: Tracer, corpus: String,
      docs: Int, findId: String, findPeriod: String, work: Path) extends Workload {
    private val out = work.resolve("out")
    private val jsonl = out.resolve("jsonl").toString
    private var courses: Dataset[Course] = _
    private var calendar: Array[Row] = Array.empty
    private var legend: Array[Row] = Array.empty
    private var byId: Array[String] = Array.empty
    private var byPeriod: Array[String] = Array.empty

    val steps: Seq[(String, () => Unit)] = Seq(
      "ingest" -> { () =>
        val pages = tr.span("sources")(DocSource.decodedScan(spark, corpus))
        val (ser, rejects) = tr.span("build") {
          val results = Syllabus.parseFromPages(pages)
          courses = Syllabus.courses(results)
          (CourseJson.serialize(courses, Periods.default(spark)), Syllabus.rejects(results))
        }
        tr.span("sinks") {
          JsonSinks.writeJsonl(ser, jsonl)
          JsonSinks.writeJsonArray(ser, out.resolve("courses.json").toString)
          JsonSinks.writePerCourse(ser, out.resolve("per_course").toString)
          JsonSinks.writeJsonl(rejects, out.resolve("rejects").toString)
        }
      },
      "calendar" -> { () =>
        val (cal, leg) = tr.span("build")((Syllabus.weeklyCalendar(courses), Syllabus.courseLegend(courses)))
        tr.span("exec") {
          calendar = cal.collect()
          legend = leg.collect()
        }
      },
      "find_by_id" -> { () =>
        val df = tr.span("sources")(DocSource.findById(spark, jsonl, findId))
        byId = tr.span("exec")(df.toJSON.collect())
      },
      "find_by_period" -> { () =>
        val df = tr.span("sources")(DocSource.findByPeriod(spark, jsonl, findPeriod))
        byPeriod = tr.span("exec")(df.toJSON.collect())
      })

    def opsPerPass: Int = docs
    def outputDir: Option[Path] = Some(out)
    def writeChecks(): Unit = {
      val cal = calendar.map(r => s"""{"week":${r.getInt(0)},"content":${Json.str(r.getString(1))}}""")
      val leg = legend.map(r => Json.str(r.getString(0)))
      Files.writeString(work.resolve("check.json"),
        s"""{"calendar":${cal.mkString("[", ",", "]")},"legend":${leg.mkString("[", ",", "]")},""" +
          s""""find_by_id":${byId.mkString("[", ",", "]")},"find_by_period":${byPeriod.mkString("[", ",", "]")}}""")
    }
  }

  object Json {
    def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
      case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
    def obj(m: Iterable[(String, String)]): String =
      m.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum / 1000.0
  private def jitSeconds(): Double =
    Option(ManagementFactory.getCompilationMXBean).map(_.getTotalCompilationTime / 1000.0).getOrElse(0.0)
  private def cpuSeconds(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9
  /** Host-wide stolen CPU seconds so far (/proc/stat, USER_HZ = 100). */
  private def stealSeconds(): Double =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      if (f.length > 8) f(8).toDouble / 100.0 else 0.0
    } catch { case _: Throwable => 0.0 }

  private def dirStats(p: Path): (Int, Double) =
    if (!Files.exists(p)) (0, 0.0)
    else {
      val s = Files.walk(p)
      try {
        val files = s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
        (files.size, files.map(Files.size(_)).sum / 1e6)
      } finally s.close()
    }

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val launch = opt("launch").toDouble
    val work = Paths.get(opt("work")).toAbsolutePath
    val traced = opt.get("trace").contains("1")
    Files.createDirectories(work)

    val t0 = nowS()
    val spark = GraftSession.builder(opt("cores").toInt)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val buildS = nowS() - t0
    // Inputs readable: every parquet table's schema resolved, or the
    // syllabus tree listed.
    opt("workload") match {
      case "syllabus_etl" => DocSource.binaryScan(spark, opt("corpus")).schema
      case _ => Tables.names.foreach(n => Tables(spark, opt("tables"), n).schema)
    }
    val setupS = nowS() - launch
    val result = mutable.LinkedHashMap[String, String](
      "setup_s" -> Json.num(setupS), "build_s" -> Json.num(buildS))

    val tr = new Tracer(spark, traced)
    val wl: Workload = opt("workload") match {
      case "syllabus_etl" => new SyllabusWorkload(spark, tr, opt("corpus"),
        opt("docs").toInt, opt("find_id"), opt("find_period"), work)
      case _ => new QueryWorkload(spark, tr, opt("tables"),
        opt("queries").split(',').toSeq, work)
    }
    val errors = mutable.LinkedHashMap.empty[String, String]
    val steals = mutable.ArrayBuffer.empty[Double]

    /** One pass: every step once, in order. Returns per-step latencies and,
      * when traced, the pass's layer metrics. */
    def runPass(): (Seq[(String, Double)], Map[String, Double]) = {
      val gc0 = gcSeconds(); val jit0 = jitSeconds(); val st0 = stealSeconds()
      val pins0 = GraftCaches.pinsCreated; val tracks0 = GraftCaches.tracksCreated
      val lats = wl.steps.map { case (name, body) =>
        val s0 = System.nanoTime()
        try body()
        catch {
          case e: Throwable => errors.getOrElseUpdate(name,
            s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
        }
        name -> (System.nanoTime() - s0) / 1e9
      }
      val steal = stealSeconds() - st0
      steals += steal
      val (spans, c) = tr.closePass()
      val layers =
        if (!traced) Map.empty[String, Double]
        else {
          val (files, outMb) = wl.outputDir.map(dirStats).getOrElse((0, 0.0))
          // Source-table jobs (schema inference) run inside query
          // construction; move their time from `queries` to `sources`.
          val buildJobS = c("job_s.srcbuild")
          Map(
            "GraftSession.build_s" -> buildS,
            "sources.resolve_s" -> (spans("sources") + buildJobS),
            "sources.resolve_jobs" -> (c("jobs.sources") + c("jobs.srcbuild")),
            "sources.input_mb" -> c("input_mb"),
            "queries.build_s" -> math.max(0.0, spans("build") - buildJobS),
            "queries.build_jobs" -> c("jobs.queries"),
            "plans.analysis_s" -> c("plan.analysis"),
            "plans.optimization_s" -> c("plan.optimization"),
            "plans.planning_s" -> c("plan.planning"),
            "operators.exec_s" -> spans("exec"),
            "operators.jobs" -> c("jobs.operators"),
            "operators.stages" -> c("stages.operators"),
            "operators.executor_cpu_s" -> c("executor_cpu_s"),
            "operators.shuffle_mb" -> c("shuffle_mb"),
            "operators.spill_mb" -> c("spill_mb"),
            "GraftCaches.pins" -> (GraftCaches.pinsCreated - pins0).toDouble,
            "GraftCaches.tracks" -> (GraftCaches.tracksCreated - tracks0).toDouble,
            "GraftCaches.release_s" -> spans("release"),
            "sinks.write_s" -> spans("sinks"),
            "sinks.output_mb" -> outMb,
            "sinks.files" -> files.toDouble,
            "jvm.gc_s" -> (gcSeconds() - gc0),
            "jvm.jit_s" -> (jitSeconds() - jit0),
            "env.steal_s" -> steal)
        }
      (lats, layers)
    }

    // Warm-up is a fixed number of passes, not a fixed time: JIT progress
    // follows the work done, so a slow host still starts the window from
    // the same warmth.
    val warmPasses = opt("warm_passes").toInt
    val warmS = (1 to warmPasses).map(_ => runPass()._1.map(_._2).sum)
    steals.clear()

    val passes = mutable.ArrayBuffer.empty[(Seq[(String, Double)], Map[String, Double])]
    val cpu0 = cpuSeconds()
    val w0 = nowS()
    val windowEnd = w0 + opt("seconds").toDouble
    while (passes.isEmpty || nowS() < windowEnd) passes += runPass()
    val windowS = nowS() - w0
    val cpuS = cpuSeconds() - cpu0

    // Full GCs with pauses between them, so that state Spark's
    // ContextCleaner frees after the first collection is gone too.
    val heapMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    }.min
    wl.writeChecks()
    spark.stop()

    val stepNames = wl.steps.map(_._1)
    val lat = stepNames.map { n =>
      n -> passes.map(_._1.find(_._1 == n).get._2).map(Json.num).mkString("[", ",", "]")
    }
    result ++= Seq(
      "warm_passes" -> warmPasses.toString,
      "warm_s" -> warmS.map(Json.num).mkString("[", ",", "]"),
      "passes" -> passes.size.toString,
      "ops" -> (passes.size.toLong * wl.opsPerPass).toString,
      "window_s" -> Json.num(windowS),
      "cpu_s" -> Json.num(cpuS),
      "heap_mb" -> Json.num(heapMb),
      "steal_s" -> Json.num(steals.sum),
      "latency" -> Json.obj(lat),
      "errors" -> Json.obj(errors.map { case (k, v) => k -> Json.str(v) }))
    if (traced)
      result += "trace" -> passes.map(p => Json.obj(p._2.map { case (k, v) => k -> Json.num(v) }))
        .mkString("[", ",", "]")
    Files.writeString(Paths.get(opt("result")), Json.obj(result))
  }
}
