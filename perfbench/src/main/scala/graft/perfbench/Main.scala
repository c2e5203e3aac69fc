package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** JVM side of the benchmark: runs one workload and writes its raw record
  * (setup times, per-operation times, check results, and in a traced run
  * the spans with their Spark jobs and tasks) to `<work>/raw.json`.
  * `perfbench/run.py` builds this harness, starts it, and turns the raw
  * record into the reported metrics.
  *
  * Untraced run: two arms on the same input, `nproc` threads then one
  * thread. Each arm starts its own session (the first one also warms the
  * JVM up), then runs whole cycles of the workload's operation mix until
  * its share of `--seconds` has passed.
  *
  * Traced run: one session at `nproc` threads that alternates an untraced
  * cycle with a traced one and ends with an untraced one, so the tracing
  * overhead is measured on the same input in the same session.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, repo: Path, nproc: Int)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", Paths.get(m("work")).toAbsolutePath,
      Paths.get(m("repo")).toAbsolutePath, m("nproc").toInt)
  }

  /** The session settings of graft's headline benchmark: partitions equal
    * to the thread count, AQE and whole-stage codegen on, UTC, no UI.
    */
  def session(threads: Int, work: Path): SparkSession = {
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName(s"graft-perfbench-$threads")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.default.parallelism", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** One timed operation. */
  final case class Op(name: String, ms: Double, rows: Long, ok: Boolean,
      detail: String) {
    def toMap: Map[String, Any] =
      Map("name" -> name, "ms" -> ms, "rows" -> rows, "ok" -> ok, "detail" -> detail)
  }

  private def now: Long = System.nanoTime()
  private def msSince(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Garbage-collection time and peak heap over a measured phase. */
  private final class JvmMeter {
    private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    private val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    private def gcMs = gcs.map(_.getCollectionTime).sum
    private var gc0 = 0L
    def start(): Unit = { heap.foreach(_.resetPeakUsage()); gc0 = gcMs }
    def gcSeconds: Double = (gcMs - gc0) / 1000.0
    def heapPeakMb: Double = heap.map(_.getPeakUsage.getUsed).sum / 1048576.0
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w: Workload = a.workload match {
      case "kg_build" => new KgBuild(a)
      // corpus curation rides in the mapping commands' client session: a
      // workload of its own would add a cold start (~28 s) the run budget
      // cannot carry; the one-thread arm runs `merge` only
      case "sssom_ops" =>
        new Combined(Seq(new SssomOps(a), new DocCuration(a)), Seq("merge"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val setups = ArrayBuffer.empty[Double]
    val sessionStarts = ArrayBuffer.empty[Double]
    val arms = ArrayBuffer.empty[Map[String, Any]]
    val jvm = new JvmMeter
    var extra: Map[String, Any] = Map.empty
    var opSeq = 0
    def runCycle(spark: SparkSession, arm: String, mix: Seq[String]): Seq[Op] =
      mix.map { name =>
        opSeq += 1
        val out = a.work.resolve("out").resolve(s"$arm-$opSeq-$name")
        val t0 = now
        val failure = try { w.op(spark, name, out); None }
          catch { case e: Exception => Some(e.toString) }
        val ms = msSince(t0)
        failure match {
          case Some(why) => Op(name, ms, 0L, ok = false, why)
          case None =>
            val (rows, ok, detail) = w.check(spark, name, out)
            Op(name, ms, rows, ok, detail)
        }
      }

    // the cold set-up (session start, input staging, warm-up cycle) is
    // setup_s; a later session's start and staging are recorded apart
    def setUp(threads: Int, warm: Boolean): SparkSession = {
      val t0 = now
      val spark = session(threads, a.work)
      w.stage(spark)
      if (warm) {
        w.warmUp(spark)
        setups += msSince(t0) / 1000.0
      } else sessionStarts += msSince(t0) / 1000.0
      spark
    }

    if (!a.trace) {
      // nproc arm first (it warms the JVM up), then the one-thread arm
      for ((threads, share) <- Seq(a.nproc -> 2.0 / 3, 1 -> 1.0 / 3)) {
        val spark = setUp(threads, warm = threads == a.nproc)
        jvm.start()
        val ops = ArrayBuffer.empty[Op]
        val t0 = now
        do ops ++= runCycle(spark, s"t$threads",
          if (threads == a.nproc) w.mix else w.scalingMix)
        while (msSince(t0) < a.seconds * share * 1000)
        // a scaling mix shorter than the mix gets two more calls at nproc
        // threads, so both sides of scaling_eff are medians of three or more
        val scalingOps =
          if (threads == a.nproc && w.scalingMix != w.mix)
            (1 to 2).flatMap(_ => runCycle(spark, s"t$threads", w.scalingMix))
          else Nil
        if (threads == a.nproc) extra = w.report(spark)
        spark.stop()
        arms += Map("threads" -> threads, "ops" -> ops.toSeq.map(_.toMap),
          "scaling_ops" -> scalingOps.map(_.toMap),
          "gc_s" -> jvm.gcSeconds, "heap_peak_mb" -> jvm.heapPeakMb)
      }
    } else {
      val spark = setUp(a.nproc, warm = true)
      val tracer = new Tracer(spark.sparkContext)
      val untraced = ArrayBuffer.empty[Op]
      val traced = ArrayBuffer.empty[Op]
      val gc = ArrayBuffer.empty[Double]
      var heapPeak = 0.0
      var run = 0
      val t0 = now
      do {
        untraced ++= runCycle(spark, "untraced", w.mix)
        run += 1
        jvm.start()
        val t1 = now
        val (rows, ok, detail) = w.traced(spark, tracer, run,
          a.work.resolve("out").resolve(s"traced-$run"))
        traced += Op("cycle", msSince(t1), rows, ok, detail)
        gc += jvm.gcSeconds
        heapPeak = math.max(heapPeak, jvm.heapPeakMb)
      } while (msSince(t0) < a.seconds * 1000)
      // untraced cycles on both sides of the traced ones: a session still
      // speeds up after its warm-up, which would otherwise read as a
      // negative tracing overhead
      untraced ++= runCycle(spark, "untraced", w.mix)
      extra = w.report(spark)
      spark.stop() // drains the listener bus before the trace is written
      arms += Map("threads" -> a.nproc, "ops" -> untraced.toSeq.map(_.toMap),
        "traced" -> traced.toSeq.map(_.toMap), "gc_s" -> gc.toSeq,
        "heap_peak_mb" -> heapPeak)
      extra += "trace" -> tracer.toMap
    }

    val rt = Runtime.getRuntime
    val raw = Map(
      "workload" -> a.workload,
      "seed" -> a.seed,
      "mix" -> w.mix,
      "scaling_mix" -> w.scalingMix,
      "env" -> Map(
        "nproc" -> a.nproc,
        "available_processors" -> rt.availableProcessors(),
        "heap_max_mb" -> rt.maxMemory() / 1048576.0,
        "jdk" -> System.getProperty("java.version"),
        "spark" -> org.apache.spark.SPARK_VERSION,
        "threads" -> (if (a.trace) Seq(a.nproc) else Seq(a.nproc, 1)),
        "session_start_s" -> sessionStarts.toSeq),
      "setup_s" -> setups.toSeq,
      "arms" -> arms.toSeq) ++ extra
    Workload.json.writeValue(a.work.resolve("raw.json").toFile, raw)
  }
}
