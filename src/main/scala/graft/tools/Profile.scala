package graft.tools

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.{GraftCaches, GraftSession, SparkEntry}

/** Per-query job/stage profiler: `runMain graft.tools.Profile <sfDir> <query> [query...]`
  *
  * Runs each named SparkEntry query once UNTIMED (JIT/codegen warm-up, the
  * Bench protocol) and once timed, with a SparkListener attributing wall
  * clock to individual Spark jobs and summing stage-level shuffle and task
  * metrics. The output answers the guide-§1 question the bench total
  * cannot: is a slow query slow because of ONE expensive stage (optimize
  * the operator) or because of MANY sequential tiny jobs (optimize the
  * pass structure)? The header line also counts the timed run's Janino
  * compiles and their time: above 0, the warm run's generated classes
  * did not all survive in Spark's generated-class cache.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq else Seq("semdedup_clusters")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // Optional extra session confs for A/B experiments:
    //   PROFILE_CONF="spark.sql.codegen.wholeStage=false,spark.foo=bar"
    val b = GraftSession.builder(cpus)
    sys.env.get("PROFILE_CONF").foreach(_.split(',').filter(_.contains("="))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        b.config(k.trim, v.trim)
      })
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val jobs = mutable.LinkedHashMap.empty[Int, (String, Long)] // id -> (desc, startMs)
    val done = mutable.ArrayBuffer.empty[(Int, String, Long)]
    var stages = 0
    var tasks = 0L
    var shuffleReadB = 0L
    var shuffleWriteB = 0L
    var inputB = 0L
    var executorRunMs = 0L
    var gcMs = 0L
    // (stageId, name, tasks, execMs, cpuMs, wallMs)
    val stageRows = mutable.ArrayBuffer.empty[(Int, String, Int, Long, Long, Long)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        jobs(e.jobId) = (desc, e.time)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.remove(e.jobId).foreach { case (desc, t0) =>
          done += ((e.jobId, desc, e.time - t0))
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = jobs.synchronized {
        stages += 1
        tasks += e.stageInfo.numTasks
        val m = e.stageInfo.taskMetrics
        if (m != null) {
          shuffleReadB += m.shuffleReadMetrics.totalBytesRead
          shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          inputB += m.inputMetrics.bytesRead
          executorRunMs += m.executorRunTime
          gcMs += m.jvmGCTime
          val si = e.stageInfo
          val wall = (for (a <- si.submissionTime; b <- si.completionTime)
            yield b - a).getOrElse(-1L)
          val rdds = si.rddInfos.sortBy(_.id)
            .map(r => s"${r.name}@${r.callSite.takeWhile(_ != ' ')}")
            .distinct.mkString(" <- ").take(400)
          stageRows += ((si.stageId,
            f"deser=${m.executorDeserializeTime}%dms gc=${m.jvmGCTime}%dms " +
              s"[$rdds]", si.numTasks,
            m.executorRunTime, m.executorCpuTime / 1000000L, wall))
        }
      }
    }

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // Warm (untimed): JIT + codegen, then drop data caches as Bench does.
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
      GraftCaches.releaseAll()
      System.gc()
      jobs.synchronized { jobs.clear(); done.clear(); stages = 0; tasks = 0
        shuffleReadB = 0; shuffleWriteB = 0; inputB = 0; executorRunMs = 0; gcMs = 0
        stageRows.clear() }
      spark.sparkContext.addSparkListener(listener)
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val compileNs0 = CodeGenerator.compileTime
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wallMs = (System.nanoTime() - t0) / 1e6
      // Janino compiles in the timed run: misses in the generated-class cache.
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      val compileMs = (CodeGenerator.compileTime - compileNs0) / 1000000L
      // Let straggler listener events drain.
      Thread.sleep(300)
      spark.sparkContext.removeSparkListener(listener)
      jobs.synchronized {
        val jobMsSum = done.map(_._3).sum
        println(f"\n===== $name%s wall=${wallMs}%.0fms jobs=${done.size}%d (sum ${jobMsSum}ms) " +
          f"stages=$stages%d tasks=$tasks%d shufR=${shuffleReadB / 1024}%dKiB " +
          f"shufW=${shuffleWriteB / 1024}%dKiB input=${inputB / 1024}%dKiB " +
          f"execMs=$executorRunMs%d gcMs=$gcMs%d " +
          f"codegenCompiles=$compiles%d codegenMs=$compileMs%d =====")
        done.sortBy(-_._3).take(10).foreach { case (id, desc, ms) =>
          println(f"  job $id%3d ${ms}%6dms  ${desc.take(110)}%s")
        }
        println("  -- top stages by executorRunTime --")
        stageRows.sortBy(-_._4).take(20).foreach {
          case (sid, nm, nt, run, cpu, wall) =>
            println(f"  stage $sid%4d tasks=$nt%3d wall=${wall}%5dms run=${run}%6dms cpu=${cpu}%6dms  $nm%s")
        }
      }
      spark.catalog.clearCache()
      GraftCaches.releaseAll()
      System.gc()
    }
    spark.stop()
  }
}
