package graft.kg

import org.apache.spark.sql.SparkSession

/** `spark-submit` entry point for the KG-construction pipeline — the
  * form the north rule names: extract → link → reconcile → canonicalize
  * → materialize as bucketed node/edge tables with a resume ledger and
  * per-partition lineage, configured entirely by arguments so a cluster
  * launch is
  *
  * {{{
  * spark-submit --class graft.kg.KgMain --master ... graft.jar \
  *   --out /data/kg --conv 100000000 --turns 8 --concepts 2000000 \
  *   --buckets 4096 --resume-groups 64
  * }}}
  *
  * Flags (defaults): `--out` (required), `--conv` 1000, `--turns` 8,
  * `--concepts` 500, `--buckets` 16, `--resume-groups` 4, `--seed` 42.
  * Fuzzy linking has no blocking choice: it is one lossless prefix-filter
  * join (`Linker.linkFuzzy`).
  *
  * Relaunching with the same --out resumes: completed bucket groups are
  * read from the ledger and skipped, and the groups left run concurrently
  * (`KgPipeline.materialize`). The session comes from `getOrCreate()`, so
  * master/memory/shuffle settings belong to spark-submit, not this code.
  */
object KgMain {

  private val knownFlags = Set(
    "out", "conv", "turns", "concepts", "buckets", "resume-groups", "seed")

  def parse(args: Array[String]): KgPipeline.Config = {
    // fail fast on malformed invocations: an odd arg list means a flag
    // lost its value (sliding(2,2) would silently drop the trailing arg)
    // and an unknown --flag is a typo that would otherwise run the whole
    // job with a default in place of the operator's intent
    require(args.length % 2 == 0,
      s"expected --flag value pairs, got odd arg list: ${args.mkString(" ")}")
    val pairs = args.sliding(2, 2).toSeq
    pairs.foreach { p =>
      require(p.head.startsWith("--"),
        s"expected a --flag at '${p.head}' in: ${args.mkString(" ")}")
    }
    val m = pairs.map { case Array(k, v) => k.drop(2) -> v }.toMap
    val unknown = m.keySet.diff(knownFlags)
    require(unknown.isEmpty,
      s"unknown flag(s): ${unknown.toSeq.sorted.mkString("--", ", --", "")}" +
        s" (known: ${knownFlags.toSeq.sorted.mkString("--", ", --", "")})")
    KgPipeline.Config(
      outDir = m.getOrElse("out",
        throw new IllegalArgumentException("--out <dir> is required")),
      nConv = m.getOrElse("conv", "1000").toLong,
      turnsPerConv = m.getOrElse("turns", "8").toInt,
      nConcepts = m.getOrElse("concepts", "500").toLong,
      buckets = m.getOrElse("buckets", "16").toInt,
      resumeGroups = m.getOrElse("resume-groups", "4").toInt,
      seed = m.getOrElse("seed", "42").toLong)
  }

  def main(args: Array[String]): Unit = {
    val cfg = parse(args)
    val spark = SparkSession.builder()
      .appName("graft-kg-construct")
      .getOrCreate()
    val r = KgPipeline.run(spark, cfg)
    // one machine-readable result line, the job's contract with its
    // launcher (mirrors the ledger's totals)
    println(s"""{"triples":${r.triples},"nodes":${r.nodes},""" +
      s""""edges":${r.edges},"components":${r.components},""" +
      s""""groups_run":${r.groupsRun},"groups_skipped":${r.groupsSkipped}}""")
  }
}
