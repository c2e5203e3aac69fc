package graft.perfbench

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.core.Schema
import graft.dedup.Dedup
import graft.graph.Components
import graft.io.{SssomJson, SssomTsv}
import graft.kg.{KgPipeline, Linker, Synthetic}
import graft.ops.{Curation, Invert, MergeReconcile, TripleEmit}
import graft.text.TextHash
import graft.tools.Cli
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** One benchmark workload. An operation's time covers only `op`; `check`
  * runs after the clock stops and returns (rows out, correct, detail).
  */
trait Workload {
  /** Operation names of one cycle, in order. */
  def mix: Seq[String]
  /** The operations the one-thread arm runs, for `scaling_eff`. */
  def scalingMix: Seq[String] = mix
  /** First session only: the JVM is still cold. One full cycle, at the
    * measured size: after a smaller one, the first measured operation ran
    * 5-25% slower than the second.
    */
  def warmUp(spark: SparkSession): Unit
  /** Every session: loads the workload's input into it (before the clock
    * of any operation starts).
    */
  def stage(spark: SparkSession): Unit = ()
  def op(spark: SparkSession, name: String, out: Path): Unit
  def check(spark: SparkSession, name: String, out: Path): (Long, Boolean, String)
  /** One cycle with a span around each call into a traced layer. */
  def traced(spark: SparkSession, tracer: Tracer, run: Int, out: Path)
      : (Long, Boolean, String)
  /** Entries added to the raw record for the checks run.py makes. */
  def report(spark: SparkSession): Map[String, Any] = Map.empty
}

object Workload {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala
        .foreach(Files.delete)
      finally s.close()
    }

  /** Lazy layers are forced inside their span: materialize the frame. */
  def force(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  /** Reads the expected outputs and writes the raw record; Scala maps and
    * sequences serialise as JSON objects and arrays.
    */
  val json: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  /** Data rows of an SSSOM TSV file: neither `#` metadata nor the header. */
  def tsvRows(p: Path): Long =
    Files.readAllLines(p, UTF_8).asScala
      .count(l => l.nonEmpty && !l.startsWith("#")) - 1L

  /** Times `f` over `items`, repeated until at least 200 ms have passed;
    * nanoseconds per call.
    */
  def nsPerCall[A](items: IndexedSeq[A])(f: A => Long): Double = {
    var sink = 0L; var calls = 0L
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 200000000L || calls == 0) {
      var i = 0
      while (i < items.length) { sink += f(items(i)); i += 1 }
      calls += items.length
    }
    val ns = (System.nanoTime() - t0).toDouble / calls
    if (sink == 42L) println("") // keeps the calls observable to the JIT
    ns
  }
}

import Workload._

/** `KgPipeline.run`, the call behind `KgMain`, on Synthetic transcripts
  * (8 turns per conversation, 2000 concepts, 10% head-concept skew) with a
  * fresh output directory per operation. At 1000 conversations the linker
  * takes more of a run than materialize does, which it did not at 200.
  */
final class KgBuild(a: Main.Args) extends Workload {
  val nConv = 1000L
  val mix = Seq("run")
  private def cfg(out: Path) = KgPipeline.Config(
    outDir = out.toString, nConv = nConv, turnsPerConv = 8, nConcepts = 2000L,
    buckets = 8, resumeGroups = 2, seed = a.seed)
  private var last: KgPipeline.Result = _
  private var expected: Option[KgPipeline.Result] = None
  private var kept: Option[Path] = None

  // KgPipeline.run generates its transcripts from the config, so there
  // is no input to stage
  def warmUp(spark: SparkSession): Unit = {
    val out = a.work.resolve("warmup")
    KgPipeline.run(spark, cfg(out))
    deleteTree(out)
  }

  def op(spark: SparkSession, name: String, out: Path): Unit =
    last = KgPipeline.run(spark, cfg(out))

  private def checkResult(r: KgPipeline.Result, out: Path): (Boolean, String) = {
    val manifest = new String(Files.readAllBytes(out.resolve("_manifest.json")), UTF_8)
    val problems = Seq(
      (r.triples <= 0) -> "no triples",
      (r.groupsSkipped != 0 || r.groupsRun != cfg(out).resumeGroups) ->
        s"groups run ${r.groupsRun} skipped ${r.groupsSkipped}",
      !manifest.contains(s""""n_triples":${r.triples}""") -> "manifest count",
      expected.exists(_ != r) -> s"result $r differs from ${expected.orNull}"
    ).collect { case (true, why) => why }
    (problems.isEmpty, problems.mkString("; "))
  }

  def check(spark: SparkSession, name: String, out: Path): (Long, Boolean, String) = {
    val (ok, detail) = checkResult(last, out)
    if (expected.isEmpty) { expected = Some(last); kept = Some(out) }
    else deleteTree(out)
    (last.triples, ok, detail)
  }

  /** Three passes. The real `KgPipeline.run` under its own span, which
    * mirrors the untraced operation. Then the layers of `extractMappings` /
    * `buildGraph` composed the same way, each call forced inside its own
    * span, under the root `perfbench.kg_layers`; row counts are taken after
    * that root has closed, so their jobs are filed under no span. Last, the
    * linker's kernels on this workload's own strings.
    */
  def traced(spark: SparkSession, tracer: Tracer, run: Int, out: Path)
      : (Long, Boolean, String) = {
    def span[A](name: String)(body: => A): A = tracer.span(name, run)(body)
    val c = cfg(out.resolve("run"))
    val result = span("kg.KgPipeline.run")(KgPipeline.run(spark, c))
    tracer.note("kg.KgPipeline.run", "mirror", 1)
    val (ok, detail) = checkResult(result, out.resolve("run"))
    deleteTree(out.resolve("run"))

    val lc = cfg(out.resolve("layers"))
    val forced = scala.collection.mutable.LinkedHashMap.empty[String, DataFrame]
    def forcedIn(name: String)(df: => DataFrame): DataFrame = {
      val f = span(name)(force(df))
      forced(name) = f
      f
    }
    var dict: DataFrame = null
    var mappings: DataFrame = null
    val layered = span("perfbench.kg_layers") {
      val transcripts = Synthetic.transcripts(spark, lc.nConv, lc.turnsPerConv,
        lc.nConcepts, lc.seed)
      dict = span("kg.Synthetic.dictionary") {
        Synthetic.dictionary(spark, lc.nConcepts, lc.seed).localCheckpoint(true)
      }
      val mentions = forcedIn("kg.Linker.detectMentions")(
        Linker.detectMentions(transcripts))
      val exact = forcedIn("kg.Linker.linkExact")(Linker.linkExact(mentions, dict))
      val fuzzy = forcedIn("kg.Linker.linkFuzzy")(Linker.linkFuzzy(mentions, dict))
      mappings = forcedIn("kg.Linker.toSssomRows")(
        Linker.toSssomRows(exact.unionByName(fuzzy)))
      val reconciled = forcedIn("ops.MergeReconcile.filterRedundantRows")(
        MergeReconcile.filterRedundantRows(mappings))
      val triples = forcedIn("ops.TripleEmit.emit")(
        TripleEmit.emit(reconciled, KgPipeline.prefixes, expand = false)
          .withColumnRenamed("subject", Schema.SubjectId)
          .withColumnRenamed("predicate", Schema.PredicateId)
          .withColumnRenamed("object", Schema.ObjectId))
      val labels = forcedIn("graph.Components.componentLabels")(
        Components.componentLabels(
          triples.filter(col(Schema.PredicateId) === Schema.SkosExactMatch),
          assumeUndirected = true))
      val graph = triples
        .join(labels.withColumnRenamed("node", Schema.SubjectId)
          .withColumnRenamed("comp", "component"), Seq(Schema.SubjectId), "left")
        .withColumn("component", coalesce(col("component"), col(Schema.SubjectId)))
      span("kg.KgPipeline.materialize")(KgPipeline.materialize(spark, graph, lc))
    }
    forced.foreach { case (name, df) => tracer.note(name, "rows_out", df.count()) }
    tracer.note("ops.MergeReconcile.filterRedundantRows", "rows_in", mappings.count())
    val files = Files.walk(out.resolve("layers")).iterator().asScala
     .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .toSeq
    tracer.note("kg.KgPipeline.materialize", "files_written", files.size)
    tracer.note("kg.KgPipeline.materialize", "bytes_written",
      files.map(Files.size).sum.toDouble)
    tracer.note("kg.KgPipeline.materialize", "rows_out", layered.triples)
    val (layersOk, layersDetail) = checkResult(layered, out.resolve("layers"))

    val sample = forced("kg.Linker.detectMentions")
      .filter(col("mention").contains(" ") && length(col("mention")) >= 7)
      .select("mention").distinct().orderBy("mention").limit(4000)
      .collect().map(_.getString(0)).toIndexedSeq
    val labels = dict.select(Linker.normalize(col("label")))
      .collect().map(_.getString(0)).toIndexedSeq
    val pairs = sample.indices.map(i => (sample(i), labels(i % labels.size)))
    val sig = span("text.TextHash.charBandSignature")(
      nsPerCall(sample)(s => TextHash.charBandSignature(s, 4)(0)))
    tracer.note("text.TextHash.charBandSignature", "ns_per_call", sig)
    val jac = span("text.TextHash.charTrigramJaccard")(
      nsPerCall(pairs)(p => (TextHash.charTrigramJaccard(p._1, p._2) * 1e6).toLong))
    tracer.note("text.TextHash.charTrigramJaccard", "ns_per_call", jac)

    deleteTree(out)
    (result.triples, ok && layersOk,
      Seq(detail, layersDetail).filter(_.nonEmpty).mkString("; "))
  }

  /** Inputs of the brute-force link reference (run.py): the dictionary and
    * the distinct turn texts, plus the edge table of the first operation.
    */
  override def report(spark: SparkSession): Map[String, Any] = {
    val ref = a.work.resolve("ref")
    Files.createDirectories(ref)
    val d = Synthetic.dictionary(spark, 2000L, a.seed).collect()
      .map(r => json.writeValueAsString(Array(r.getString(0), r.getString(1),
        r.getString(2))))
    Files.write(ref.resolve("dictionary.jsonl"), d.toSeq.asJava, UTF_8)
    val t = Synthetic.transcripts(spark, nConv, 8, 2000L, a.seed)
      .select("text").distinct().orderBy("text").collect()
      .map(r => json.writeValueAsString(r.getString(0)))
    Files.write(ref.resolve("texts.jsonl"), t.toSeq.asJava, UTF_8)
    Map("kg" -> Map(
      "dictionary" -> ref.resolve("dictionary.jsonl").toString,
      "texts" -> ref.resolve("texts.jsonl").toString,
      "edges" -> kept.map(_.resolve("edges").toString).getOrElse("")))
  }
}

/** A closed loop with one client: a fixed mix of `Cli.run` commands over
  * the sssom-py reference fixtures and two generated mid-size TSVs.
  */
final class SssomOps(a: Main.Args) extends Workload {
  private val fx = a.repo.resolve("src/test/resources/sssom")
  private val in = a.work.resolve("inputs")
  private lazy val expected: Map[String, Long] = {
    val node = json.readTree(in.resolve("expected.json").toFile)
    node.fieldNames().asScala.map(k => k -> node.get(k).asLong()).toMap
  }
  val mix = Seq("parse", "convert_tsv", "convert_json", "convert_rdf",
    "merge", "invert", "diff", "dedupe")
  private var precision = Double.NaN
  private var recall = Double.NaN

  private def args(name: String, out: Path): Array[String] = {
    val basic = fx.resolve("basic.tsv").toString
    val midA = in.resolve("mid_a.tsv").toString
    val midB = in.resolve("mid_b.tsv").toString
    val o = out.resolve("out").toString
    name match {
      case "parse" => Array("parse", basic, "-o", o + ".tsv")
      case "convert_tsv" => Array("convert", midA, "-O", "tsv", "-o", o + ".tsv")
      case "convert_json" => Array("convert", basic, "-O", "json", "-o", o + ".json")
      case "convert_rdf" => Array("convert", basic, "-O", "rdf", "-o", o + ".ttl")
      case "merge" => Array("merge", midA, midB, "-R", "true", "-o", o + ".tsv")
      case "invert" => Array("invert", midA, "-o", o + ".tsv")
      case "diff" => Array("diff", basic, basic, "-o", o + ".tsv")
      case "dedupe" => Array("dedupe", midA, "-o", o + ".tsv")
    }
  }

  def warmUp(spark: SparkSession): Unit = mix.foreach { name =>
    val out = a.work.resolve("warmup").resolve(name)
    op(spark, name, out)
    deleteTree(out)
  }

  private var status = 0
  def op(spark: SparkSession, name: String, out: Path): Unit = {
    Files.createDirectories(out)
    status = Cli.run(args(name, out), spark)
  }

  /** (s, p, o) of every owl:Axiom reification in a Turtle file. */
  private def axiomTriples(p: Path): Set[(String, String, String)] = {
    val rx = ("""owl:annotatedProperty\s+(\S+)\s*;[\s\S]*?""" +
      """owl:annotatedSource\s+(\S+)\s*;[\s\S]*?""" +
      """owl:annotatedTarget\s+(\S+)\s*;""").r
    rx.findAllMatchIn(new String(Files.readAllBytes(p), UTF_8))
      .map(m => (m.group(2), m.group(1), m.group(3))).toSet
  }

  def check(spark: SparkSession, name: String, out: Path): (Long, Boolean, String) = {
    val o = out.resolve("out")
    def rowsIs(n: Long, file: Path = o.resolveSibling("out.tsv")) = {
      val got = tsvRows(file)
      (got, got == n, s"$got rows, expected $n")
    }
    val r = if (status != 0) (0L, false, s"exit status $status")
    else name match {
      case "parse" => rowsIs(141L)
      case "convert_tsv" => rowsIs(expected("mid_a_rows"))
      case "convert_json" =>
        val n = json.readTree(out.resolve("out.json").toFile).get("mappings")
          .size().toLong
        (n, n == 141L, s"$n mappings, expected 141")
      case "convert_rdf" =>
        val ours = axiomTriples(out.resolve("out.ttl"))
        val golden = axiomTriples(fx.resolve("golden_basic.ttl"))
        val common = (ours & golden).size.toDouble
        precision = common / ours.size; recall = common / golden.size
        (ours.size.toLong, precision >= 0.95 && recall >= 0.95,
          f"precision $precision%.4f recall $recall%.4f vs golden_basic.ttl")
      case "merge" => rowsIs(expected("merge_rows"))
      case "invert" => rowsIs(2 * expected("mid_a_rows"))
      case "diff" =>
        val lines = Files.readAllLines(out.resolve("out.tsv"), UTF_8).asScala
          .filter(l => l.nonEmpty && !l.startsWith("#"))
        val c = lines.head.split("\t", -1).indexOf("comment")
        val notCommon = lines.tail.count(l =>
          !l.split("\t", -1)(c).startsWith("COMMON_TO_BOTH"))
        val n = lines.size - 1L
        (n, n > 0 && notCommon == 0, s"$n rows, $notCommon not common")
      case "dedupe" => rowsIs(expected("dedupe_rows"))
    }
    deleteTree(out)
    r
  }

  def traced(spark: SparkSession, tracer: Tracer, run: Int, out: Path)
      : (Long, Boolean, String) = {
    def span[A](name: String)(body: => A): A = tracer.span(name, run)(body)
    var rows = 0L; var bad = Seq.empty[String]
    mix.foreach { name =>
      val o = out.resolve(name)
      span(s"tools.Cli.run.$name")(op(spark, name, o))
      tracer.note(s"tools.Cli.run.$name", "mirror", 1)
      val (n, ok, detail) = check(spark, name, o)
      rows += n
      if (!ok) bad :+= s"$name: $detail"
    }
    // direct calls into the io and ops layers the commands go through
    Files.createDirectories(out)
    val midA = span("io.SssomTsv.read") {
      val m = SssomTsv.read(spark, in.resolve("mid_a.tsv").toString)
      m.withDf(force(m.df))
    }
    val midB = SssomTsv.read(spark, in.resolve("mid_b.tsv").toString)
    val basic = SssomTsv.read(spark, fx.resolve("basic.tsv").toString)
    span("io.SssomTsv.write")(SssomTsv.write(midA, out.resolve("a.tsv").toString))
    span("io.SssomJson.writeJson")(
      SssomJson.writeJson(basic, out.resolve("basic.json").toString))
    span("ops.MergeReconcile.merge")(
      force(MergeReconcile.merge(Seq(midA, midB), reconcile = true).df))
    span("ops.MergeReconcile.diff")(force(MergeReconcile.diff(basic.df, basic.df).combined))
    span("ops.Invert.invertMappings")(force(Invert.invertMappings(midA.df)))
    deleteTree(out)
    (rows, bad.isEmpty, bad.mkString("; "))
  }

  override def report(spark: SparkSession): Map[String, Any] =
    Map("rdf_triples" -> Map("precision" -> precision, "recall" -> recall))
}

/** Corpus curation: `Curation.curate` over a seeded document corpus with
  * planted outcomes, and the near-duplicate decision of the `dedup` layer
  * on its own (`Dedup.ngramJaccardNearDups` then `Dedup.nearDupDedup`).
  * run.py writes the corpus, the benchmark set it is decontaminated
  * against, and what each operation must return (expected_docs.json).
  */
final class DocCuration(a: Main.Args) extends Workload {
  private val in = a.work.resolve("inputs")
  val mix = Seq("curate", "near_dups")
  private var corpus: DataFrame = _
  private var bench: DataFrame = _
  private lazy val expected = json.readTree(in.resolve("expected_docs.json").toFile)
  private lazy val decisions: Map[Long, String] = expected.get("decisions")
    .elements().asScala.map(e => e.get(0).asLong() -> e.get(1).asText()).toMap
  private lazy val pairs: Set[(Long, Long)] = expected.get("pairs").elements().asScala
    .map(e => e.get(0).asLong() -> e.get(1).asLong()).toSet
  private def ids(key: String): Set[Long] =
    expected.get(key).elements().asScala.map(_.asLong()).toSet
  private lazy val dropped = ids("dedup_dropped")
  private lazy val contaminated = ids("contaminated")
  private var precision = Double.NaN
  private var recall = Double.NaN

  override def stage(spark: SparkSession): Unit = {
    def load(f: String) = force(spark.read.schema("doc_id LONG, text STRING")
      .json(in.resolve(f).toString))
    corpus = load("docs.jsonl")
    bench = load("bench.jsonl")
  }

  def warmUp(spark: SparkSession): Unit = mix.foreach { name =>
    op(spark, name, a.work)
    check(spark, name, a.work)
  }

  private var curated: Array[(Long, String)] = _
  private var found: Array[(Long, Long)] = _
  private var labels: Array[(Long, Boolean)] = _

  private def curate(): Unit =
    curated = Curation.curate(corpus, bench).collect()
      .map(r => r.getLong(0) -> r.getString(1))

  private def nearDupDedup(tracer: Option[(Tracer, Int)]): Unit = {
    def span[A](name: String)(body: => A): A =
      tracer.fold(body) { case (t, run) => t.span(name, run)(body) }
    val p = span("dedup.Dedup.ngramJaccardNearDups")(
      force(Dedup.ngramJaccardNearDups(corpus)))
    found = p.select("doc_a", "doc_b").collect().map(r => r.getLong(0) -> r.getLong(1))
    labels = span("dedup.Dedup.nearDupDedup")(Dedup.nearDupDedup(corpus, p)
      .select("doc_id", "keep").collect().map(r => r.getLong(0) -> r.getBoolean(1)))
  }

  def op(spark: SparkSession, name: String, out: Path): Unit = name match {
    case "curate" => curate()
    case "near_dups" => nearDupDedup(None)
  }

  def check(spark: SparkSession, name: String, out: Path): (Long, Boolean, String) =
    name match {
      case "curate" =>
        val got = curated.toMap
        val wrong = decisions.toSeq.sorted.filter { case (d, want) =>
          !got.get(d).contains(want) }
        (curated.length.toLong, curated.length == decisions.size && wrong.isEmpty,
          s"${curated.length} decisions for ${decisions.size} documents, " +
            s"${wrong.size} wrong" + wrong.take(5).map { case (d, want) =>
              s" [$d: ${got.getOrElse(d, "none")}, expected $want]" }.mkString)
      case "near_dups" =>
        val got = found.toSet
        val common = (got & pairs).size.toDouble
        precision = if (got.isEmpty) 1.0 else common / got.size
        recall = if (pairs.isEmpty) 1.0 else common / pairs.size
        val wrongKeep = labels.count { case (d, keep) => keep == dropped(d) }
        (found.length.toLong + labels.length,
          precision == 1.0 && recall == 1.0 && wrongKeep == 0 &&
            labels.length == decisions.size,
          f"pairs precision $precision%.4f recall $recall%.4f " +
            s"(${got.size} found, ${pairs.size} in reference); " +
            s"$wrongKeep of ${labels.length} keep flags wrong")
    }

  /** The two operations under their mirror spans, then the flag-only
    * decontamination the funnel's stage 4 calls.
    */
  def traced(spark: SparkSession, tracer: Tracer, run: Int, out: Path)
      : (Long, Boolean, String) = {
    tracer.span("ops.Curation.curate", run)(curate())
    tracer.note("ops.Curation.curate", "mirror", 1)
    tracer.note("ops.Curation.curate", "rows_out", curated.length)
    val (n1, ok1, d1) = check(spark, "curate", out)
    tracer.span("perfbench.near_dups", run)(nearDupDedup(Some(tracer -> run)))
    tracer.note("perfbench.near_dups", "mirror", 1)
    tracer.note("dedup.Dedup.ngramJaccardNearDups", "rows_out", found.length)
    tracer.note("dedup.Dedup.nearDupDedup", "rows_out", labels.length)
    val (n2, ok2, d2) = check(spark, "near_dups", out)
    val cont = tracer.span("dedup.Dedup.contaminatedDocs", run)(
      force(Dedup.contaminatedDocs(corpus, bench, 8)))
    val flagged = cont.collect().map(_.getLong(0)).toSet
    tracer.note("dedup.Dedup.contaminatedDocs", "rows_out", flagged.size)
    (n1 + n2, ok1 && ok2 && flagged == contaminated,
      Seq(d1, d2, s"${flagged.size} flagged contaminated, " +
        s"${(flagged & contaminated).size} of ${contaminated.size} in reference")
        .mkString("; "))
  }

  override def report(spark: SparkSession): Map[String, Any] =
    Map("near_dup_pairs" -> Map("precision" -> precision, "recall" -> recall))
}

/** Several workloads as one: their mixes run back to back in one session.
  * The one-thread arm runs `scalingMix` only.
  */
final class Combined(parts: Seq[Workload], override val scalingMix: Seq[String])
    extends Workload {
  val mix: Seq[String] = parts.flatMap(_.mix)
  private def of(name: String): Workload = parts.find(_.mix.contains(name)).get
  override def stage(spark: SparkSession): Unit = parts.foreach(_.stage(spark))
  def warmUp(spark: SparkSession): Unit = parts.foreach(_.warmUp(spark))
  def op(spark: SparkSession, name: String, out: Path): Unit = of(name).op(spark, name, out)
  def check(spark: SparkSession, name: String, out: Path): (Long, Boolean, String) =
    of(name).check(spark, name, out)
  def traced(spark: SparkSession, tracer: Tracer, run: Int, out: Path)
      : (Long, Boolean, String) = {
    val rs = parts.zipWithIndex.map { case (w, i) =>
      w.traced(spark, tracer, run, out.resolve(s"part$i")) }
    (rs.map(_._1).sum, rs.forall(_._2), rs.map(_._3).filter(_.nonEmpty).mkString("; "))
  }
  override def report(spark: SparkSession): Map[String, Any] =
    parts.map(_.report(spark)).reduce(_ ++ _)
}
