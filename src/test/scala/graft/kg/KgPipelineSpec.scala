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

  test("linkFuzzyTfidf: rarest-token blocking finds every pair whose " +
      "mention carries the surface's rarest token; verification exact") {
    import graft.text.TextHash
    val dict = Seq(
      ("C:1", "protein kinase alpha", "pk alpha"),
      ("C:2", "protein kinase beta", "pk beta"),
      ("C:3", "gamma receptor", "gr")).toDF("concept_id", "label", "synonyms")
    val mentions = Seq(
      // contains C:1's rarest token ("alpha", df=1) intact -> MUST link
      (("c1", 0, "protein kinase alpha x")),
      // typo exactly in the rarest token -> documented blocking miss
      (("c1", 1, "protein kinase alpa")),
      // rarest-token tie (gamma/receptor both df=1) breaks on token asc
      (("c2", 0, "gamma receptor q")),
      // unrelated -> no candidate survives verification
      (("c2", 1, "completely different words"))
    ).toDF("conv_id", "turn_idx", "mention")
    val out = Linker.linkFuzzyTfidf(mentions, dict, jaccardMin = 0.55)
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
    // the typo'd-rarest-token pair IS a true brute-force pair (the
    // documented blocking miss: recall < 1 exactly and only there)
    assert(TextHash.charTrigramJaccard("protein kinase alpa",
      "protein kinase alpha") >= 0.55)
    assert(!out.contains(("protein kinase alpa", "C:1")))
    // recall guarantee over the synthetic corpus: every brute-force pair
    // whose mention contains the surface's rarest token is found
    val t = Synthetic.transcripts(spark, 80, 4, 40)
    val d = Synthetic.dictionary(spark, 40)
    val ms = Linker.detectMentions(t)
      .filter(col("mention").contains(" ") && length(col("mention")) >= 7)
      .select("conv_id", "turn_idx", "mention")
    val found = Linker.linkFuzzyTfidf(ms, d)
      .select("mention", "concept_id").distinct()
      .as[(String, String)].collect().toSet
    val surf = d.select(col("concept_id"),
      Linker.normalize(col("label")).as("surface"))
      .as[(String, String)].collect()
    val dfTok = surf.flatMap(_._2.split(" ").distinct).groupBy(identity)
      .map { case (k, v) => k -> v.length }
    val rarest = surf.map { case (cid, s) =>
      cid -> s.split(" ").distinct.minBy(tok => (dfTok(tok), tok)) }.toMap
    val mset = ms.select("mention").distinct().as[String].collect()
    val brute = for {
      m <- mset; (cid, s) <- surf
      if m != s && TextHash.charTrigramJaccard(m, s) >= 0.55
    } yield (m, cid)
    val guaranteed = brute.filter { case (m, cid) =>
      m.split(" ").contains(rarest(cid)) }
    assert(guaranteed.toSet.subsetOf(found),
      s"guaranteed pairs missed: ${guaranteed.toSet -- found}")
    info(s"recall vs brute force: ${(brute.toSet & found).size}/${brute.toSet.size}")
    // reachable from spark-submit: --blocking tfidf selects this family
    // end-to-end; unknown families fail fast
    val tfCfg = KgMain.parse(Array("--out", "/tmp/kg_unused",
      "--conv", "50", "--blocking", "tfidf"))
    assert(tfCfg.blocking == "tfidf")
    assert(KgPipeline.extractMappings(spark, tfCfg).count() > 0)
    intercept[IllegalArgumentException] {
      KgPipeline.extractMappings(spark, tfCfg.copy(blocking = "nope")).count()
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
