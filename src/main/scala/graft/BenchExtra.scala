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
  *
  * `kgscale=threads|executors [reps=3]` runs the KG scaling arm instead
  * ([[kgScaling]]); `executors` needs spark-submit of the packaged jar:
  *   sbt package && spark-submit --class graft.BenchExtra --master local[1] \
  *     --driver-memory 2g target/scala-2.13/sssompyspark_2.13-0.1.0.jar \
  *     kgscale=executors reps=3
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
    if (kv.contains("kgscale")) { kgScaling(kv("kgscale"), reps); return }
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

  /** Bench's KG scaling workload outside the frozen harness. Each draw is
    * `Bench.kgRun`'s call, `buildGraph(extractMappings(…)).count()` over
    * 8 turns per conversation and 2000 concepts (Bench.scala:98-104), in a
    * session configured as Bench's scaling sessions: `session(threads,
    * codegen = false, aqe = false, partsPerCore = 4)` (Bench.scala:66-95,
    * called at :138), so 4 shuffle partitions per core, AQE and whole-stage
    * codegen off. Per width (1, then 4): one session, one 1750-conversation
    * warm-up (Bench's scale / 16), then `reps` rounds of 7000 and 28000
    * conversations. Prints each cell's min seconds and jobs, the
    * two-point fit fixed + per-conversation, and the 28000 efficiency
    * T1 / (4 · T4). `threads` runs `local[N]`; `executors` runs
    * `local-cluster[N,1,1536]`: N executor JVMs of one core each.
    */
  def kgScaling(mode: String, reps: Int): Unit = {
    require(mode == "threads" || mode == "executors", s"kgscale=$mode")
    val cells = Seq(1, 4).map { n =>
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      val spark = SparkSession.builder()
        .master(if (mode == "threads") s"local[$n]" else s"local-cluster[$n,1,1536]")
        .appName(s"graft-kgscale-$mode-$n")
        .config("spark.sql.shuffle.partitions", (n * 4).toString)
        .config("spark.default.parallelism", (n * 4).toString)
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.codegen.wholeStage", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(
              js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            jobs.incrementAndGet()
        })
      def draw(scale: Long): (Double, Int) = {
        val cfg = graft.kg.KgPipeline.Config(outDir = "", nConv = scale,
          turnsPerConv = 8, nConcepts = 2000L)
        jobs.set(0)
        val t0 = System.nanoTime()
        graft.kg.KgPipeline.buildGraph(
          graft.kg.KgPipeline.extractMappings(spark, cfg)).count()
        ((System.nanoTime() - t0) / 1e9, jobs.get)
      }
      draw(28000L / 16)
      val draws = (1 to reps).flatMap(_ => Seq(7000L, 28000L).map(c => c -> draw(c)))
      spark.stop()
      n -> draws.groupMap(_._1)(_._2).map { case (c, ds) =>
        println(f"kgscale,$mode,$n,$c,min_s=${ds.map(_._1).min}%.3f," +
          s"jobs=${ds.map(_._2).distinct.mkString("/")}," +
          ds.map(d => f"${d._1}%.3f").mkString("[", " ", "]"))
        c -> ds.map(_._1).min
      }
    }.toMap
    cells.foreach { case (n, t) =>
      val perConv = (t(28000L) - t(7000L)) / 21000
      println(f"kgscale,$mode,$n,fit,fixed_s=${t(7000L) - 7000 * perConv}%.2f," +
        f"per_conv_ms=${perConv * 1e3}%.3f")
    }
    println(f"kgscale,$mode,efficiency_28000=" +
      f"${cells(1)(28000L) / (4 * cells(4)(28000L))}%.3f")
  }
}
