package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.execution.ExplainMode

/** Optimization-round measurement harness (guide §1): times individual
  * SparkEntry queries in isolation under the exact Bench session config,
  * and captures `.explain("formatted")` of each query's returned frame
  * to an output directory (the plans/r09 deliverable).
  *
  * Usage:
  *   runMain graft.Measure <sfDir> <planOutDir> <q1,q2,...|all> [reps]
  *
  * Timing methodology is Bench parity (fn(spark, sfDir).count() on a
  * warm session, min over reps, cache cleared between runs) so numbers
  * here are directly comparable to bench_results.json. This main is a
  * dev tool: it is NOT part of the driver contract and adds no queries.
  */
object Measure {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val names: Seq[String] =
      if (args(2) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(2).split(",").toSeq
    val reps = if (args.length > 3) args(3).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // experiment knob: arbitrary session confs, "k=v;k=v" (e.g.
    // spark.sql.shuffle.partitions=4 to decouple partitions from cores)
    val extraConf = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(";")).map(_.split("=", 2)).collect {
        case Array(k, v) if k.nonEmpty => k -> v
      }
    val spark = GraftSession(cpus, extraConf)
    Files.createDirectories(Paths.get(outDir))

    // Decomposition aid (guide §1.5/§7.1, the UI is disabled here):
    // SPARK_GRAFT_JOBLOG=1 prints every Spark job's relative start, wall
    // duration, task count, summed executor run and CPU time, and
    // description to stderr, so a gate's wall-clock can be split into
    // jobs vs gaps (sleeps, work between jobs, streaming choreography),
    // and a job's wall into task time, without instrumenting each operator.
    if (sys.env.get("SPARK_GRAFT_JOBLOG").contains("1")) {
      val epoch = System.nanoTime()
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        private val starts =
          new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
        private val jobOfStage = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
        // per job: tasks, executor run ms, executor CPU ns
        private val taskSums = new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val desc = Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("")
          js.stageIds.foreach(jobOfStage.put(_, js.jobId))
          taskSums.put(js.jobId, new Array[Long](3))
          starts.put(js.jobId, (System.nanoTime(), desc))
        }
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          for {
            job <- Option(jobOfStage.get(te.stageId))
            sums <- Option(taskSums.get(job))
            m <- Option(te.taskMetrics)
          } {
            sums(0) += 1
            sums(1) += m.executorRunTime
            sums(2) += m.executorCpuTime
          }
        override def onJobEnd(
            je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          Option(starts.remove(je.jobId)).foreach { case (s0, desc) =>
            val t = Option(taskSums.remove(je.jobId)).getOrElse(new Array[Long](3))
            jobOfStage.values.removeIf(_ == je.jobId)
            System.err.println(f"[joblog] job=${je.jobId}%4d " +
              f"rel=${(s0 - epoch) / 1e9}%8.2fs " +
              f"dur=${(System.nanoTime() - s0) / 1e9}%7.3fs " +
              f"tasks=${t(0)}%4d run=${t(1)}%7dms cpu=${t(2) / 1000000}%7dms $desc")
          }
        }
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          val wall = (for { s <- si.submissionTime; c <- si.completionTime }
            yield (c - s) / 1e3).getOrElse(-1.0)
          val m = si.taskMetrics
          System.err.println(f"[stagelog] stage=${si.stageId}%4d " +
            f"tasks=${si.numTasks}%3d wall=$wall%7.3fs " +
            f"run=${m.executorRunTime / 1e3}%7.3fs " +
            f"cpu=${m.executorCpuTime / 1e9}%7.3fs " +
            f"deser=${m.executorDeserializeTime / 1e3}%6.3fs " +
            f"shR=${m.shuffleReadMetrics.totalBytesRead}%9d " +
            f"shW=${m.shuffleWriteMetrics.bytesWritten}%9d " +
            si.name.takeWhile(_ != '\n').take(80))
        }
      })
    }

    // Bench's warm-up: first-query JIT/classloading otherwise lands on
    // whatever query runs first and poisons the comparison.
    GraftSession.warmUp(spark, sfDir, "measure")

    val results = mutable.LinkedHashMap[String, Double]()
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[measure] UNKNOWN query: $name")
        case Some(fn) =>
          spark.sparkContext.setJobDescription(s"measure:$name")
          val times = (1 to reps).map { i =>
            val t0 = System.nanoTime()
            try {
              val df = fn(spark, sfDir)
              val n = df.count()
              val dt = (System.nanoTime() - t0) / 1e9
              if (i == 1) {
                // plan of the returned frame (post-run: gates with side
                // effects have already staged their inputs)
                val plan = df.queryExecution.explainString(
                  ExplainMode.fromString("formatted"))
                Files.writeString(Paths.get(s"$outDir/$name.txt"), plan)
              }
              System.err.println(f"[measure] $name rep$i $dt%.2fs ($n rows)")
              dt
            } catch { case e: Throwable =>
              System.err.println(s"[measure] $name FAILED: $e")
              -1.0
            } finally spark.catalog.clearCache()
          }
          results(name) = times.filter(_ >= 0) match {
            case ts if ts.nonEmpty => ts.min
            case _ => -1.0
          }
          System.err.println(s"[measure] post-$name shuffle.partitions=" +
            spark.conf.get("spark.sql.shuffle.partitions"))
      }
    }
    val line = results.map { case (k, v) => f""""$k":$v%.3f""" }
      .mkString("{", ",", "}")
    System.out.println(s"""{"measure":$line,"sf":"$sfDir"}""")
    Files.writeString(Paths.get(s"$outDir/_measure.json"),
      s"""{"measure":$line,"sf":"$sfDir"}""" + "\n")
    spark.stop()
  }
}
