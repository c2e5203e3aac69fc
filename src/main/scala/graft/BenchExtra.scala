package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Builder-side measurement harness (optimization guide §1) — NOT the
  * driver contract ([[Bench]] is frozen). Times a selected subset of the
  * headline queries under the exact same session configuration and action
  * (`df.count()`) as Bench's headline phase, with per-query repeats, and
  * optionally dumps `.explain("formatted")` plus the executed (post-AQE)
  * physical plan to `<plans>/<query>_<tag>.txt`.
  *
  * Usage:
  *   sbt "runMain graft.BenchExtra [tag=before] [reps=3] [plans=<dir>] q_a q_b ..."
  * `plans=<dir>` turns the plan capture on (one directory per round,
  * e.g. plans=plans/r07).
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32),
  *      GRAFT_NOOP=1 to also time the noop-sink full materialization
  *      (guide §1.4).
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val kv = args.filter(_.contains("=")).map { a =>
      val Array(k, v) = a.split("=", 2); k -> v
    }.toMap
    val tag = kv.getOrElse("tag", "before")
    val reps = kv.getOrElse("reps", "3").toInt
    val planDir = kv.get("plans").map(Paths.get(_))
    val names0 = args.filterNot(_.contains("="))
    val names = if (names0.isEmpty || names0.sameElements(Array("all")))
      Bench.headline else names0.toSeq
    val noop = sys.env.get("GRAFT_NOOP").contains("1")

    // identical to Bench.session(cpus): AQE on, codegen on, 32 shuffle parts
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-benchextra-$cpus")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.default.parallelism", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.wholeStage", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // untimed warmup at the smallest SF, mirroring Bench
    val warmDir = "/root/testdata/sf0.001"
    if (Files.exists(Paths.get(warmDir)))
      names.foreach { n =>
        SparkEntry.queries.get(n).foreach { fn =>
          try fn(spark, warmDir).count() catch { case _: Throwable => () }
        }
      }

    // per-job wall times (submitted -> completed) with the thread's job
    // description, so checkpoint-segmented pipelines show where time goes
    val jobLog = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    val jobDur = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val desc = Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("?")
          jobLog.put(js.jobId, (desc, js.time))
        }
        override def onJobEnd(
            je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          Option(jobLog.remove(je.jobId)).foreach { case (d, t0) =>
            jobDur.synchronized { jobDur += ((d, (je.time - t0) / 1e3)) }
          }
        }
      })

    planDir.foreach(Files.createDirectories(_))
    val results = names.flatMap { n =>
      SparkEntry.queries.get(n).map { fn =>
        spark.sparkContext.setJobDescription(n)
        val times = (1 to reps).map { r =>
          spark.sparkContext.setJobDescription(s"$n#$r")
          val t0 = System.nanoTime()
          try fn(spark, sfDir).count()
          catch { case e: Throwable =>
            System.err.println(s"[benchextra] $n failed: ${e.getMessage}") }
          (System.nanoTime() - t0) / 1e9
        }
        val noopTimes = if (noop) (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          catch { case e: Throwable =>
            System.err.println(s"[benchextra] $n noop failed: ${e.getMessage}") }
          (System.nanoTime() - t0) / 1e9
        } else Nil
        planDir.foreach { dir =>
          val df = fn(spark, sfDir)
          val sb = new StringBuilder
          sb ++= s"== $n @ $sfDir (tag=$tag) ==\n\n"
          sb ++= "---- explain(formatted), initial plan ----\n"
          sb ++= df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          // run through the noop sink so the AQE-final plan is available
          try {
            df.write.format("noop").mode("overwrite").save()
            sb ++= "\n---- executed plan (post-AQE) ----\n"
            sb ++= df.queryExecution.executedPlan.toString
          } catch { case e: Throwable =>
            sb ++= s"\n[executed-plan capture failed: ${e.getMessage}]\n" }
          Files.writeString(dir.resolve(s"${n}_$tag.txt"), sb.toString)
        }
        spark.sparkContext.setJobDescription(null)
        (n, times, noopTimes)
      }
    }
    println("query,min_count_s,all_count_s" + (if (noop) ",min_noop_s" else ""))
    results.foreach { case (n, ts, ns) =>
      val extra = if (noop) f",${ns.min}%.3f" else ""
      println(f"$n%s,${ts.min}%.3f," +
        ts.map(t => f"$t%.3f").mkString("[", " ", "]") + extra)
    }
    println(f"TOTAL_MIN,${results.map(_._2.min).sum}%.3f")
    if (sys.env.get("GRAFT_JOBS").contains("1")) {
      println("---- per-job wall times (desc, seconds) ----")
      jobDur.synchronized {
        jobDur.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (d, xs) =>
          println(f"$d%s: n=${xs.length} total=${xs.map(_._2).sum}%.3f " +
            xs.map(x => f"${x._2}%.3f").mkString("[", " ", "]"))
        }
      }
    }
    spark.stop()
  }
}
