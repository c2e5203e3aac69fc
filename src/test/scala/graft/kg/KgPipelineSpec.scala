package graft.kg

import graft.SparkSpec
import graft.core.Schema
import org.apache.spark.sql.functions._

class KgPipelineSpec extends SparkSpec {
  import spark.implicits._

  lazy val cfg = KgPipeline.Config(
    outDir = java.nio.file.Files.createTempDirectory("kg").toString,
    nConv = 200L, turnsPerConv = 6, nConcepts = 100L, buckets = 8,
    resumeGroups = 4)

  test("synthetic transcripts are deterministic and correctly shaped") {
    val t1 = Synthetic.transcripts(spark, 50, 4, 100)
    val t2 = Synthetic.transcripts(spark, 50, 4, 100)
    assert(t1.count() == 200)
    assert(t1.exceptAll(t2).count() == 0)
    assert(t1.schema.map(f => (f.name, f.dataType.typeName)) ==
      Seq("conv_id" -> "string", "turn_idx" -> "integer", "role" -> "string",
        "text" -> "string", "tool" -> "string", "ts" -> "timestamp"))
    // per-turn text equality under stable (conv_id, turn_idx) ordering:
    // regenerating and re-sorting yields the same text sequence
    val s1 = t1.orderBy("conv_id", "turn_idx").select("text").collect()
    val s2 = t2.orderBy("conv_id", "turn_idx").select("text").collect()
    assert(s1.sameElements(s2))
  }

  test("mention detection finds embedded dictionary surfaces") {
    val t = Synthetic.transcripts(spark, 100, 4, 50)
    val d = Synthetic.dictionary(spark, 50)
    val mentions = Linker.detectMentions(t)
    val surfaces = d.select(Linker.normalize(col("label")).as("m")).distinct()
    val hits = mentions.join(surfaces,
      mentions("mention") === surfaces("m"), "left_semi")
    assert(hits.count() > 0)
  }

  test("exact linking links mentions to the planted concepts") {
    val t = Synthetic.transcripts(spark, 100, 4, 50)
    val d = Synthetic.dictionary(spark, 50)
    val links = Linker.linkExact(Linker.detectMentions(t), d)
    assert(links.count() > 0)
    // label hits are exactMatch at 0.95
    assert(links.filter(col("predicate_id") === "skos:exactMatch" &&
      col("confidence") === 0.95).count() > 0)
  }

  test("pipeline end-to-end: triples emitted, components labeled, output written") {
    val r = KgPipeline.run(spark, cfg)
    assert(r.triples > 0)
    assert(r.components > 0 && r.components <= r.nodes)
    assert(r.groupsRun == 4 && r.groupsSkipped == 0)
    val edges = spark.read.parquet(s"${cfg.outDir}/edges/group=0")
    assert(edges.columns.toSet ==
      Set("subject_id", "predicate_id", "object_id", "component", "bucket"))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(cfg.outDir, "_manifest.json")))
  }

  test("resume skips completed groups via the ledger") {
    // second run over the same outDir: all groups complete → all skipped
    val r2 = KgPipeline.run(spark, cfg)
    assert(r2.groupsRun == 0 && r2.groupsSkipped == 4)
  }

  test("resume ledger: each complete marker counts its group's own " +
      "buckets when buckets % resumeGroups != 0") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    // groups are pmod(bucket, 4) over 10 buckets: groups 0-1 hold 3
    // buckets, groups 2-3 hold 2
    val unevenCfg = cfg.copy(
      outDir = Files.createTempDirectory("kg_uneven").toString,
      buckets = 10, resumeGroups = 4)
    val edges = (0 until 200).map(i =>
        (s"kb:s$i", "skos:exactMatch", s"kb:o${i % 7}", s"kb:c${i % 5}"))
      .toDF(Schema.SubjectId, Schema.PredicateId, Schema.ObjectId, "component")
    val r = KgPipeline.materialize(spark, edges, unevenCfg)
    assert(r.groupsRun == 4)
    val lines = Files.readAllLines(
      Paths.get(unevenCfg.outDir, "_ledger.jsonl")).asScala.toSeq
    val marker = "\\{\"group\":(\\d+),\"status\":\"complete\",\"n_buckets\":(\\d+)\\}".r
    val got = lines.collect { case marker(g, n) => g.toInt -> n.toInt }.toMap
    assert(got == Map(0 -> 3, 1 -> 3, 2 -> 2, 3 -> 2))
    // every bucket is non-empty here, so the lineage rows agree
    (0 until 4).foreach { g =>
      assert(lines.count(l => l.startsWith(s"""{"group":$g,"bucket":""")) ==
        got(g), s"group $g lineage rows")
    }
  }

  test("linkFuzzy: lossless, equals the brute-force trigram-Jaccard set " +
      "(typo'd rarest token included); verification exact") {
    import graft.text.TextHash
    val dict = Seq(
      ("C:1", "protein kinase alpha", "pk alpha"),
      ("C:2", "protein kinase beta", "pk beta"),
      ("C:3", "gamma receptor", "gr")).toDF("concept_id", "label", "synonyms")
    val mentions = Seq(
      (("c1", 0, "protein kinase alpha x")),
      // typo exactly in the rarest token: the old rarest-token blocking
      // missed this true pair
      (("c1", 1, "protein kinase alpa")),
      (("c2", 0, "gamma receptor q")),
      // unrelated -> no pair
      (("c2", 1, "completely different words"))
    ).toDF("conv_id", "turn_idx", "mention")
    val out = Linker.linkFuzzy(mentions, dict, jaccardMin = 0.55)
      .select("mention", "concept_id", "confidence")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2))
      .toMap
    // every emitted confidence is exactly kernel-jaccard * 0.9
    val surfaces = Map("C:1" -> "protein kinase alpha",
      "C:2" -> "protein kinase beta", "C:3" -> "gamma receptor")
    out.foreach { case ((m, c), conf) =>
      val j = TextHash.charTrigramJaccard(m, surfaces(c))
      assert(conf == j * 0.9 && j >= 0.55)
    }
    assert(out.contains(("protein kinase alpha x", "C:1")))
    assert(out.contains(("gamma receptor q", "C:3")))
    assert(!out.keySet.exists(_._1 == "completely different words"))
    assert(TextHash.charTrigramJaccard("protein kinase alpa",
      "protein kinase alpha") >= 0.55)
    assert(out.contains(("protein kinase alpa", "C:1")))
    // equality with brute force over the synthetic corpus
    val t = Synthetic.transcripts(spark, 80, 4, 40)
    val d = Synthetic.dictionary(spark, 40)
    val ms = Linker.detectMentions(t)
    val found = Linker.linkFuzzy(ms, d)
      .select("mention", "concept_id", "confidence")
      .as[(String, String, Double)].collect().toSet
    val surf = d.select(col("concept_id"),
      Linker.normalize(col("label")).as("surface"))
      .as[(String, String)].collect()
    val mset = ms.filter(col("mention").contains(" ") &&
        length(col("mention")) >= 7)
      .select("mention").distinct().as[String].collect()
    val brute = for {
      m <- mset; (cid, s) <- surf
      j = TextHash.charTrigramJaccard(m, s)
      if m != s && j >= 0.55
    } yield (m, cid, j * 0.9)
    assert(brute.nonEmpty)
    assert(found == brute.toSet,
      s"missed ${brute.toSet -- found}; extra ${found -- brute.toSet}")
  }

  test("crash mid-group: a failed group write throws, leaves that group " +
      "unmarked and the others complete; the rerun runs only it") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val small = cfg.copy(nConv = 120L)
    val graph = KgPipeline.buildGraph(KgPipeline.extractMappings(spark, small))
      .localCheckpoint(true)
    val refCfg = small.copy(
      outDir = Files.createTempDirectory("kg_crash_ref").toString)
    KgPipeline.materialize(spark, graph, refCfg)
    val vicCfg = small.copy(
      outDir = Files.createTempDirectory("kg_crash").toString)
    // block group 1's edge write: a dangling symlink where its directory
    // goes. (A regular file would not do: SaveMode.Overwrite deletes what
    // exists at the path. The dangling link reads as absent, so it is not
    // deleted, and no directory can be made through it.)
    val blocker = Paths.get(vicCfg.outDir, "edges", "group=1")
    Files.createDirectories(blocker.getParent)
    Files.createSymbolicLink(blocker, Paths.get(vicCfg.outDir, "missing"))
    val e = intercept[Exception](KgPipeline.materialize(spark, graph, vicCfg))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(x => String.valueOf(x.getMessage).contains("edges/group=1")), e)
    val ledger = Paths.get(vicCfg.outDir, "_ledger.jsonl")
    def grp(l: String): Option[Int] =
      "\"group\":(\\d+)".r.findFirstMatchIn(l).map(_.group(1).toInt)
    val lines = Files.readAllLines(ledger).asScala.toSeq
    val refLines = Files.readAllLines(
      Paths.get(refCfg.outDir, "_ledger.jsonl")).asScala.toSeq
    assert(!lines.exists(l => grp(l).contains(1)), "group 1 left ledger lines")
    (0 until small.resumeGroups).filter(_ != 1).foreach { g =>
      assert(lines.count(l => grp(l).contains(g) &&
        l.contains("\"status\":\"complete\"")) == 1, s"group $g markers")
      assert(lines.filter(l => grp(l).contains(g)).sorted ==
        refLines.filter(l => grp(l).contains(g)).sorted, s"group $g lineage")
    }
    Files.delete(blocker)
    val r = KgPipeline.materialize(spark, graph, vicCfg)
    assert(r.groupsRun == 1 && r.groupsSkipped == small.resumeGroups - 1, s"$r")
    assert(Files.readAllLines(ledger).asScala.sorted == refLines.sorted)
    for (table <- Seq("edges", "nodes")) {
      val a = spark.read.parquet(s"${refCfg.outDir}/$table")
      val b = spark.read.parquet(s"${vicCfg.outDir}/$table")
      assert(a.count() == b.count() && a.exceptAll(b).count() == 0 &&
        b.exceptAll(a).count() == 0, s"$table diverged after crash rerun")
    }
  }

  test("chaos resume: kills between group writes recover to exactly-once " +
      "completion with clean lineage") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    // clean single-shot run = the reference output
    val refCfg = cfg.copy(
      outDir = Files.createTempDirectory("kg_chaos_ref").toString)
    KgPipeline.run(spark, refCfg)
    // victim run, then doctor its outDir into the two mid-run kill states:
    //  - group 2: killed AFTER its data + lineage appends but BEFORE the
    //    complete marker (drop only the marker line)
    //  - group 3: killed BEFORE any of its writes landed (drop all its
    //    ledger lines and its output directories)
    val vicCfg = cfg.copy(
      outDir = Files.createTempDirectory("kg_chaos").toString)
    KgPipeline.run(spark, vicCfg)
    val ledger = Paths.get(vicCfg.outDir, "_ledger.jsonl")
    val lines = Files.readAllLines(ledger).asScala.toSeq
    def grp(l: String): Option[Int] =
      "\"group\":(\\d+)".r.findFirstMatchIn(l).map(_.group(1).toInt)
    val doctored = lines.filterNot(l => grp(l).contains(2) &&
        l.contains("\"status\":\"complete\""))
      .filterNot(l => grp(l).contains(3))
    Files.write(ledger, (doctored.mkString("\n") + "\n").getBytes("UTF-8"))
    import scala.reflect.io.Directory
    new Directory(new java.io.File(s"${vicCfg.outDir}/edges/group=3"))
      .deleteRecursively()
    new Directory(new java.io.File(s"${vicCfg.outDir}/nodes/group=3"))
      .deleteRecursively()
    Files.deleteIfExists(Paths.get(vicCfg.outDir, "_manifest.json"))
    // relaunch: incomplete groups rerun (group 2's data was fine but its
    // completion is unproven — half-written lineage must not be trusted),
    // complete groups are skipped
    val r = KgPipeline.run(spark, vicCfg)
    assert(r.groupsRun == 2 && r.groupsSkipped == 2,
      s"expected groups 2,3 rerun: $r")
    // exactly-once completion: one complete marker per group, and no
    // orphaned lineage from the crashed attempt (group 2's stale metrics
    // were compacted away before its rerun re-appended fresh ones)
    val fin = Files.readAllLines(ledger).asScala.toSeq
    (0 until cfg.resumeGroups).foreach { g =>
      assert(fin.count(l => grp(l).contains(g) &&
        l.contains("\"status\":\"complete\"")) == 1, s"group $g markers")
      val nBuckets = (0 until cfg.buckets).count(_ % cfg.resumeGroups == g)
      assert(fin.count(l => grp(l).contains(g) &&
        l.contains("\"bucket\":")) == nBuckets, s"group $g lineage rows")
    }
    // recovered tables equal the clean single-shot run's, row for row
    for (table <- Seq("edges", "nodes")) {
      val a = spark.read.parquet(s"${refCfg.outDir}/$table")
      val b = spark.read.parquet(s"${vicCfg.outDir}/$table")
      assert(a.count() == b.count() && a.exceptAll(b).count() == 0 &&
        b.exceptAll(a).count() == 0, s"$table diverged after chaos resume")
    }
    assert(Files.exists(Paths.get(vicCfg.outDir, "_manifest.json")))
  }

  test("KgMain: spark-submit arg parsing and end-to-end run") {
    val cfg = KgMain.parse(Array("--out", "/tmp/kgmain_test", "--conv",
      "60", "--turns", "4", "--concepts", "100", "--buckets", "8",
      "--resume-groups", "2", "--seed", "7"))
    assert(cfg == KgPipeline.Config("/tmp/kgmain_test", 60L, 4, 100L, 8, 2, 7L))
    intercept[IllegalArgumentException](KgMain.parse(Array("--conv", "5")))
    // the main's pipeline path on a live session (getOrCreate reuses it)
    import scala.reflect.io.Directory
    new Directory(new java.io.File("/tmp/kgmain_test")).deleteRecursively()
    val r = KgPipeline.run(spark, cfg)
    assert(r.triples > 0 && r.groupsRun == 2)
  }

  test("mapping rows are valid SSSOM: reconcile and emit compose") {
    val mappings = KgPipeline.extractMappings(spark,
      cfg.copy(nConv = 50L))
    assert(mappings.columns.contains(Schema.SubjectId))
    val graph = KgPipeline.buildGraph(mappings)
    // every edge got a component label
    assert(graph.filter(col("component").isNull).count() == 0)
    // exactMatch subject and object of the same link share a component
    // (both endpoints of an exactMatch edge must canonicalize together)
    val exact = graph.filter(col(Schema.PredicateId) === "skos:exactMatch")
    val labels = exact.select(col(Schema.SubjectId).as("node"),
      col("component"))
    val objSide = exact.select(col(Schema.ObjectId).as("node"))
      .join(labels, "node")
    // object appearing as a subject elsewhere keeps the same component
    val conflict = exact.select(col(Schema.ObjectId).as("node"),
        col("component").as("c1"))
      .join(labels.withColumnRenamed("component", "c2"), "node")
      .filter(col("c1") =!= col("c2"))
    assert(conflict.count() == 0)
  }
}
