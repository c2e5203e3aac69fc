package graft.kg

import graft.core.{PrefixMap, Schema}
import graft.graph.Components
import graft.ops.{MergeReconcile, TripleEmit}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}
import java.util.concurrent.{CompletableFuture, ExecutionException, Executors}

/** End-to-end KG construction over transcript tables (the north rule):
  * mention detection → exact + lossless prefix-filter fuzzy linking → SSSOM
  * reconcile (window-max dedup) → connected-component canonicalization on
  * exactMatch edges → Iceberg-layout node/edge Parquet tables with
  * per-partition lineage rows, triple-count metrics, a snapshot manifest,
  * and a processed-partition ledger for checkpoint resume.
  *
  * "Iceberg-layout" because no Iceberg runtime jar exists offline (SURVEY
  * §7.0): we write `data/bucket=<k>/…parquet` plus JSON snapshot metadata
  * carrying the schema, partition list and per-partition counts — the table
  * contract the north rule exercises.
  *
  * Scale notes: the dictionary side of both links is broadcast (no shuffle
  * on the mention side); the reconcile shuffles once, on (subject,
  * object), so a hot head-entity pair is read by one task, once; the CC
  * loop localCheckpoints per round; buckets are processed in
  * `resumeGroups` independent groups, written concurrently, so a restart
  * skips completed groups via the ledger.
  */
object KgPipeline {

  final case class Config(
      outDir: String,
      nConv: Long = 1000L,
      turnsPerConv: Int = 8,
      nConcepts: Long = 500L,
      buckets: Int = 16,
      resumeGroups: Int = 4,
      seed: Long = 42L)

  final case class Result(
      triples: Long, nodes: Long, edges: Long, components: Long,
      groupsRun: Int, groupsSkipped: Int)

  def prefixes: PrefixMap = PrefixMap.builtIn.chain(PrefixMap(Vector(
    "kb" -> "https://example.org/kb/",
    "txt" -> "https://example.org/text/")))

  /** Mapping rows from transcripts (stages 1-3). */
  def extractMappings(spark: SparkSession, cfg: Config): DataFrame = {
    val transcripts = Synthetic.transcripts(spark, cfg.nConv, cfg.turnsPerConv,
      cfg.nConcepts, cfg.seed)
    // the dictionary feeds two link branches (exact broadcast join + the
    // fuzzy linker's collected index) — materialize its tiny generation
    // plan once instead of re-running it per branch
    val dict = Synthetic.dictionary(spark, cfg.nConcepts, cfg.seed)
      .localCheckpoint(true)
    // mentions feed both link branches; recomputing the cheap explode in
    // each branch beats an extra materialization job
    val mentions = Linker.detectMentions(transcripts)
    val exact = Linker.linkExact(mentions, dict)
    val fuzzy = Linker.linkFuzzy(mentions, dict)
    Linker.toSssomRows(exact.unionByName(fuzzy))
  }

  /** Reconciled, canonicalized edge set with component labels. */
  def buildGraph(mappings: DataFrame): DataFrame = {
    // The reconcile reads its input once, so this checkpoint saves no
    // recomputation; it stays because dropping it measured no faster.
    // buildGraph(extractMappings(…)).count() in one JVM, 5 alternating
    // draws each, medians with → without: 2.02 → 2.40 s (local[4], AQE
    // and codegen on, 1000 conversations), 5.47 → 5.59 s and 15.04 →
    // 15.57 s (Bench's scaling settings, 7000 conversations, 4 and 1
    // wide), one job fewer without it.
    val m = mappings.localCheckpoint(true)
    val reconciled = MergeReconcile.filterRedundantRows(m)
    // cut the extract→link→reconcile lineage once: the CC loop and the
    // final label join would otherwise recompute the whole upstream DAG
    // several times over
    val triples = TripleEmit.emit(reconciled, prefixes, expand = false)
      .withColumnRenamed("subject", Schema.SubjectId)
      .withColumnRenamed("predicate", Schema.PredicateId)
      .withColumnRenamed("object", Schema.ObjectId)
      .localCheckpoint(true)
    // canonicalize on exactMatch edges only (north rule)
    val exactOnly = triples
      .filter(col(Schema.PredicateId) === Schema.SkosExactMatch)
    val labels = Components.componentLabels(exactOnly, assumeUndirected = true)
    triples
      .join(labels.withColumnRenamed("node", Schema.SubjectId)
        .withColumnRenamed("comp", "component"), Seq(Schema.SubjectId), "left")
      .withColumn("component", coalesce(col("component"), col(Schema.SubjectId)))
  }

  // ---------- Iceberg-layout materialization with resume ----------

  private def ledgerPath(outDir: String) = Paths.get(outDir, "_ledger.jsonl")

  private def groupOf(line: String): Option[Int] =
    "\"group\":(\\d+)".r.findFirstMatchIn(line).map(_.group(1).toInt)

  /** Completed groups + crash hygiene. A group counts as complete ONLY on
    * its `"status":"complete"` marker — the per-bucket lineage lines are
    * appended BEFORE the marker, so a kill mid-append must not make the
    * rerun skip a group whose lineage is half-written (matching any
    * `"group":N` line here was exactly that bug). Orphaned lines of
    * incomplete groups (metrics from a crashed attempt) are compacted
    * away atomically, so a rerun's fresh lineage is exactly-once rather
    * than appended after stale duplicates.
    */
  private def completedGroups(outDir: String): Set[Int] = {
    val p = ledgerPath(outDir)
    if (!Files.exists(p)) Set.empty
    else {
      import scala.jdk.CollectionConverters._
      val lines = Files.readAllLines(p).asScala.toSeq
      val done = lines.filter(_.contains("\"status\":\"complete\""))
        .flatMap(groupOf).toSet
      val kept = lines.filter(l => groupOf(l).exists(done.contains))
      if (kept.size != lines.size) {
        val tmp = Paths.get(outDir, "_ledger.jsonl.tmp")
        Files.write(tmp, (kept.mkString("\n") +
          (if (kept.isEmpty) "" else "\n")).getBytes(StandardCharsets.UTF_8))
        Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
      }
      done
    }
  }

  // one lock for every ledger append: groups run on concurrent threads
  private val ledgerLock = new Object

  private def appendLedger(outDir: String, line: String): Unit =
    ledgerLock.synchronized {
      Files.createDirectories(Paths.get(outDir))
      Files.write(ledgerPath(outDir), (line + "\n").getBytes(StandardCharsets.UTF_8),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    }

  /** Materialize node + edge tables partitioned by subject-hash bucket.
    * Buckets are grouped into `resumeGroups` groups; each group is written
    * atomically (its data, then its lineage, then its complete marker), so
    * a relaunch only runs missing groups. The groups left to run are
    * written concurrently, one driver thread each; a failure in any of
    * them is rethrown once all have finished.
    */
  def materialize(spark: SparkSession, edges: DataFrame, cfg: Config): Result = {
    val bucketed = edges
      .withColumn("bucket", pmod(xxhash64(col(Schema.SubjectId)),
        lit(cfg.buckets)).cast("int"))
      .withColumn("group", pmod(col("bucket"), lit(cfg.resumeGroups)))
      .localCheckpoint(true) // compute extraction once across group jobs

    // every count of the lineage and the manifest from ONE aggregate over
    // (node, is_subject) rows: per bucket its triples (subject rows) and
    // components, and in the grand-total row the node count too.
    // countDistinct skips nulls where the old distinct().count() counted
    // a null id as a node, so a null id is counted explicitly. Returns the
    // totals (triples, components, nodes) and each group's lineage lines.
    def summarize(): ((Long, Long, Long), Map[Int, Seq[String]]) = {
      val node = col("e.node")
      val rows = bucketed
        .select(col("bucket"), col("component"), explode(array(
          struct(col(Schema.SubjectId).as("node"), lit(true).as("is_subject")),
          struct(col(Schema.ObjectId).as("node"), lit(false).as("is_subject"))))
          .as("e"))
        .rollup("bucket")
        .agg(grouping("bucket").cast("int").as("total"),
          count(when(col("e.is_subject"), lit(1))).as("n_triples"),
          countDistinct(col("component")).as("n_components"),
          (countDistinct(node) +
            (count(when(node.isNull, lit(1))) > 0).cast("long")).as("n_nodes"))
        .collect()
      val (totals, perBucket) = rows.partition(_.getAs[Int]("total") == 1)
      def total(c: String) = totals.headOption.fold(0L)(_.getAs[Long](c))
      val lineage = perBucket.toSeq.map { r =>
        val b = r.getAs[Int]("bucket")
        (b, s"""{"group":${b % cfg.resumeGroups},"bucket":$b,""" +
          s""""n_triples":${r.getAs[Long]("n_triples")},""" +
          s""""n_components":${r.getAs[Long]("n_components")},""" +
          s""""seed":${cfg.seed}}""")
      }.sortBy(_._1).groupMap(_._1 % cfg.resumeGroups)(_._2)
      ((total("n_triples"), total("n_components"), total("n_nodes")), lineage)
    }
    val summary =
      new CompletableFuture[((Long, Long, Long), Map[Int, Seq[String]])]()

    def writeGroup(g: Int): Unit = {
      val part = bucketed.filter(col("group") === g).drop("group")
        .repartition(col("bucket"))
      part.write.mode(SaveMode.Overwrite)
        .partitionBy("bucket")
        .parquet(s"${cfg.outDir}/edges/group=$g")
      // nodes for this group: subjects in its buckets + their objects. The
      // input is already hash-partitioned by bucket, which the
      // (node, bucket) aggregate accepts: one bucket per partition, no
      // second exchange
      part.select(explode(array(col(Schema.SubjectId), col(Schema.ObjectId)))
          .as("node"), col("component"), col("bucket"))
        .groupBy("node", "bucket")
        .agg(min("component").as("component"), count(lit(1)).as("degree"))
        .write.mode(SaveMode.Overwrite)
        .partitionBy("bucket")
        .parquet(s"${cfg.outDir}/nodes/group=$g")
      summary.get()._2.getOrElse(g, Nil).foreach(appendLedger(cfg.outDir, _))
      // groups are pmod(bucket, resumeGroups): the first
      // buckets % resumeGroups groups hold one bucket more
      val nBuckets = (0 until cfg.buckets).count(_ % cfg.resumeGroups == g)
      appendLedger(cfg.outDir,
        s"""{"group":$g,"status":"complete","n_buckets":$nBuckets}""")
    }

    val done = completedGroups(cfg.outDir)
    val todo = (0 until cfg.resumeGroups).filterNot(done.contains)
    // threads made here inherit the caller's Spark local properties
    val pool = Executors.newFixedThreadPool(math.max(1, todo.size))
    try {
      val groups = todo.map { g =>
        val task: Runnable = () => writeGroup(g)
        pool.submit(task)
      }
      // the aggregate runs on this thread while the groups write; a group
      // waits for it only before its lineage
      val summaryFailure =
        try { summary.complete(summarize()); None }
        catch { case e: Throwable => summary.completeExceptionally(e); Some(e) }
      val failures = summaryFailure.toSeq ++ groups.flatMap { f =>
        try { f.get(); None }
        catch { case e: ExecutionException => Some(e.getCause) }
      }
      failures.headOption.foreach { e =>
        failures.tail.foreach(e.addSuppressed)
        throw e
      }
    } finally pool.shutdown()
    val (nTriples, nComponents, nNodes) = summary.get()._1

    // snapshot manifest (atomic via temp + move)
    val manifest =
      s"""{"format":"iceberg-layout-v1","schema":["subject_id","predicate_id","object_id","component","bucket"],
         |"partition_spec":"bucket(${cfg.buckets}, xxhash64(subject_id))",
         |"n_triples":$nTriples,"n_nodes":$nNodes,"n_components":$nComponents,
         |"groups":${cfg.resumeGroups},"seed":${cfg.seed}}""".stripMargin
    val tmp = Paths.get(cfg.outDir, "_manifest.json.tmp")
    Files.createDirectories(Paths.get(cfg.outDir))
    Files.write(tmp, manifest.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(cfg.outDir, "_manifest.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)

    Result(nTriples, nNodes, nTriples, nComponents, todo.size,
      cfg.resumeGroups - todo.size)
  }

  /** Full pipeline. */
  def run(spark: SparkSession, cfg: Config): Result = {
    val mappings = extractMappings(spark, cfg)
    val graph = buildGraph(mappings)
    materialize(spark, graph, cfg)
  }
}
