package graft.io

import graft.core._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.util.zip.GZIPInputStream

/** SSSOM TSV/CSV source & sink: `#`-prefixed embedded YAML metadata header
  * followed by a delimited table (reference: src/sssom/parsers.py:144-193,
  * 302-369; src/sssom/writers.py:84-128).
  *
  * Scale design: only the bounded metadata header is read on the driver
  * (a few KB via Hadoop FS, stops at the first non-`#` line); the table
  * body is read by Spark's distributed CSV reader with `comment='#'` so
  * the header lines are skipped on executors without a second pass.
  */
object SssomTsv {

  // ---------- metadata header (driver-side, O(header) work) ----------

  /** Read leading `#` lines of a (possibly .gz) file. */
  def readHeaderLines(spark: SparkSession, path: String): Vector[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val raw = fs.open(p)
    val in =
      if (path.endsWith(".gz")) new GZIPInputStream(raw) else raw
    val rd = new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8))
    try {
      val buf = Vector.newBuilder[String]
      var line = rd.readLine()
      while (line != null && line.startsWith("#")) {
        buf += line
        line = rd.readLine()
      }
      buf.result()
    } finally rd.close()
  }

  private def unquote(s: String): String = {
    val t = s.trim
    if (t.length >= 2 &&
      ((t.head == '"' && t.last == '"') || (t.head == '\'' && t.last == '\'')))
      t.substring(1, t.length - 1)
    else t
  }

  /** Minimal YAML-subset parser for SSSOM metadata headers: root
    * `key: value` scalars, `key:` + indented `- item` lists, and `key:` +
    * indented `sub: value` maps (curie_map). This is the full shape the
    * reference emits/consumes in fixtures (src/sssom/parsers.py:164-170).
    */
  def parseMetaYaml(headerLines: Vector[String]): Vector[(String, MetaValue)] = {
    // reference lstrips '#' then rstrips (parsers.py:165); indentation after
    // the '#'s marks nesting
    val lines = headerLines
      .map(_.dropWhile(_ == '#'))
      .map(l => l.replaceAll("\\s+$", ""))
      .filter(_.nonEmpty)
    val out = Vector.newBuilder[(String, MetaValue)]
    var i = 0
    while (i < lines.length) {
      val line = lines(i)
      if (!line.startsWith(" ") && line.contains(":")) {
        val idx = line.indexOf(':')
        val key = line.substring(0, idx).trim
        val rest = line.substring(idx + 1).trim
        if (rest.nonEmpty) {
          out += key -> MetaString(unquote(rest))
          i += 1
        } else {
          // block: gather indented lines
          val block = Vector.newBuilder[String]
          var j = i + 1
          while (j < lines.length && lines(j).startsWith(" ")) {
            block += lines(j).trim
            j += 1
          }
          val items = block.result()
          if (items.forall(_.startsWith("- ")))
            out += key -> MetaList(items.map(s => unquote(s.drop(2))))
          else
            out += key -> MetaMap(items.map { s =>
              val k = s.indexOf(':')
              unquote(s.substring(0, k)) -> unquote(s.substring(k + 1))
            })
          i = j
        }
      } else i += 1
    }
    out.result()
  }

  // ---------- read ----------

  def inferSeparator(path: String): String =
    if (path.replaceAll("\\.gz$", "").endsWith(".csv")) "," else "\t"

  /** Parse an SSSOM table (reference `parse_sssom_table`,
    * src/sssom/parsers.py:302-369): header YAML → metadata + curie_map;
    * body → all-string DataFrame; NaN→""; confidence → double; prefix-map
    * chain built-ins > document curie_map; propagate condensed slots;
    * row-validity filter; default mapping_justification.
    */
  def read(spark: SparkSession, path: String,
      extraMeta: Vector[(String, MetaValue)] = Vector.empty,
      metaPath: Option[String] = None,
      fetcher: Option[String => java.io.InputStream] = None,
      propagate: Boolean = true): Msdf = {
    // flexible input forms (reference `_open_input`, parsers.py:104-141):
    // raw string content (contains a newline), http(s) URL, file:// URL,
    // .gz or plain path. http(s) goes through the injected `fetcher`
    // (url → stream) — the reference fetches via requests
    // (parsers.py:116-120); this build is zero-egress, so there is no
    // default network fetcher and the branch stays testable offline.
    if (path.contains("\n") || path.contains("\r"))
      return readFromString(spark, path, extraMeta = extraMeta,
        propagate = propagate)
    if (path.startsWith("http://") || path.startsWith("https://")) {
      val f = fetcher.getOrElse(throw new UnsupportedOperationException(
        "http(s) input requires network access (reference fetches via " +
          "requests, parsers.py:116-120); this build is offline — " +
          "download the file and pass a local or file:// path, or inject " +
          "a fetcher"))
      val raw = f(path)
      val in = if (path.replaceAll("\\?.*$", "").endsWith(".gz"))
        new java.util.zip.GZIPInputStream(raw) else raw
      val content = try {
        new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      } finally in.close()
      return readFromString(spark, content, sep = inferSeparator(
        path.replaceAll("\\?.*$", "")), extraMeta = extraMeta,
        propagate = propagate)
    }
    val sep = inferSeparator(path)
    val headerLines = readHeaderLines(spark, path)
    // external-metadata mode (reference io.py:171-203): a companion YAML
    // provides set metadata; embedded header slots take priority
    val externalMeta: Vector[(String, MetaValue)] = metaPath match {
      case Some(p) =>
        import scala.jdk.CollectionConverters._
        parseMetaYaml(java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get(p)).asScala.toVector)
      case None => Vector.empty
    }
    val meta0 = {
      val embedded = parseMetaYaml(headerLines)
      embedded ++ externalMeta.filterNot(kv => embedded.exists(_._1 == kv._1))
    }

    val curieMap: Vector[(String, String)] = meta0.collectFirst {
      case ("curie_map", MetaMap(m)) => m
    }.getOrElse(Vector.empty)
    val prefixes = PrefixMap.builtIn
      .chain(PrefixMap(curieMap))
      .chain(PrefixMap(extraMeta.collectFirst { case ("curie_map", MetaMap(m)) => m }
        .getOrElse(Vector.empty)))
    val meta = (meta0 ++ extraMeta.filterNot(kv => meta0.exists(_._1 == kv._1)))
      .filterNot(_._1 == "curie_map")

    val raw = spark.read
      .option("sep", sep)
      .option("header", "true")
      .option("comment", "#")
      .option("inferSchema", "false")
      .option("mode", "PERMISSIVE")
      .csv(path)
    postProcess(raw, meta, prefixes, propagate)
  }

  /** Parse SSSOM TSV content handed in as a raw string (reference
    * `_open_input` string branch). The header is split off driver-side;
    * the body parses through the same distributed CSV reader via a
    * Dataset[String].
    */
  def readFromString(spark: SparkSession, content: String, sep: String = "\t",
      extraMeta: Vector[(String, MetaValue)] = Vector.empty,
      propagate: Boolean = true): Msdf = {
    val lines = content.split("\r?\n", -1).toVector
    val headerLines = lines.takeWhile(_.startsWith("#"))
    val bodyLines = lines.drop(headerLines.length).filter(_.nonEmpty)
    val meta0 = {
      val embedded = parseMetaYaml(headerLines)
      embedded
    }
    val curieMap: Vector[(String, String)] = meta0.collectFirst {
      case ("curie_map", MetaMap(m)) => m
    }.getOrElse(Vector.empty)
    val prefixes = PrefixMap.builtIn
      .chain(PrefixMap(curieMap))
      .chain(PrefixMap(extraMeta.collectFirst { case ("curie_map", MetaMap(m)) => m }
        .getOrElse(Vector.empty)))
    val meta = (meta0 ++ extraMeta.filterNot(kv => meta0.exists(_._1 == kv._1)))
      .filterNot(_._1 == "curie_map")
    import spark.implicits._
    val raw = spark.read
      .option("sep", sep)
      .option("header", "true")
      .option("inferSchema", "false")
      .option("mode", "PERMISSIVE")
      .csv(spark.createDataset(bodyLines))
    postProcess(raw, meta, prefixes, propagate)
  }

  private def postProcess(raw: DataFrame, meta: Vector[(String, MetaValue)],
      prefixes: PrefixMap, propagate: Boolean = true): Msdf = {
    // all-string discipline + "" for absent (reference parsers.py:178,193)
    val stringified = raw.select(raw.columns.map { c =>
      coalesce(col(c).cast(StringType), lit("")).as(c)
    }.toIndexedSeq: _*)

    // double slots → nullable double (reference util.py:186-195)
    val typed = Schema.doubleSlots.filter(stringified.columns.contains)
      .foldLeft(stringified) { (d, c) =>
        d.withColumn(c, when(col(c) === "", lit(null).cast(DoubleType))
          .otherwise(col(c).cast(DoubleType)))
      }

    // default justification + row-validity filter
    // (reference: src/sssom/parsers.py:1188-1228)
    val withJust =
      if (typed.columns.contains(Schema.MappingJustification))
        typed.withColumn(Schema.MappingJustification,
          when(col(Schema.MappingJustification) === "",
            lit(Schema.JustificationUnspecified))
            .otherwise(col(Schema.MappingJustification)))
      else typed.withColumn(Schema.MappingJustification,
        lit(Schema.JustificationUnspecified))

    def presentNonEmpty(c: String) =
      if (withJust.columns.contains(c)) col(c) =!= "" else lit(false)
    val subjectOk =
      when(presentNonEmpty(Schema.SubjectType) &&
        colOr(withJust, Schema.SubjectType) === Schema.RdfsLiteral,
        presentNonEmpty(Schema.SubjectLabel))
        .otherwise(presentNonEmpty(Schema.SubjectId))
    val objectOk =
      when(presentNonEmpty(Schema.ObjectType) &&
        colOr(withJust, Schema.ObjectType) === Schema.RdfsLiteral,
        presentNonEmpty(Schema.ObjectLabel))
        .otherwise(presentNonEmpty(Schema.ObjectId))
    val valid = withJust.filter(subjectOk && objectOk)

    val out = Msdf(valid, meta, prefixes)
    if (propagate) out.propagate() else out
  }

  private def colOr(df: DataFrame, c: String) =
    if (df.columns.contains(c)) col(c) else lit("")

  // ---------- write ----------

  /** Serialize metadata to the `#`-prefixed YAML header. */
  def metaToYaml(meta: Vector[(String, MetaValue)], prefixes: PrefixMap): String = {
    val sb = new StringBuilder
    meta.foreach {
      case (k, MetaString(v)) => sb.append(s"#$k: $v\n")
      case (k, MetaList(vs)) =>
        sb.append(s"#$k:\n"); vs.foreach(v => sb.append(s"#  - $v\n"))
      case (k, MetaMap(m)) =>
        sb.append(s"#$k:\n")
        m.foreach { case (p, u) => sb.append(s"#  $p: $u\n") }
    }
    if (prefixes.entries.nonEmpty) {
      sb.append("#curie_map:\n")
      prefixes.entries.sortBy(_._1).foreach { case (p, u) =>
        sb.append(s"#  $p: $u\n")
      }
    }
    sb.result()
  }

  /** Spark's `orderBy(asc_nulls_last(c))` over every column, in column
    * order, as a driver comparator: strings by UTF-8 bytes, floating
    * point with -0.0 == 0.0 and NaN largest, other numbers, booleans,
    * dates and timestamps by value, nulls last. Any other column type
    * (binary, arrays, structs, maps, intervals) throws rather than sort
    * differently from Spark.
    */
  private[graft] def rowOrdering(schema: StructType): Ordering[Row] = {
    val cmps = schema.fields.map { f =>
      val cmp: (Any, Any) => Int = f.dataType match {
        case StringType => (x, y) =>
          if (x == y) 0 else if (SizeGate.u8Less(x.toString, y.toString)) -1 else 1
        case DoubleType | FloatType => (x, y) =>
          val a = x.asInstanceOf[Number].doubleValue
          val b = y.asInstanceOf[Number].doubleValue
          if (a == b) 0 else java.lang.Double.compare(a, b)
        case _: NumericType | BooleanType | DateType | TimestampType |
             TimestampNTZType => (x, y) => x.asInstanceOf[Comparable[Any]].compareTo(y)
        case t => throw new IllegalArgumentException(
          s"cannot sort TSV column ${f.name} of type $t")
      }
      cmp
    }
    (a, b) => cmps.indices.iterator.map { i =>
      (a.get(i), b.get(i)) match {
        case (null, null) => 0
        case (null, _) => 1
        case (_, null) => -1
        case (x, y) => cmps(i)(x, y)
      }
    }.find(_ != 0).getOrElse(0)
  }

  /** Write an SSSOM TSV with embedded metadata header (reference
    * `write_table`, src/sssom/writers.py:84-121): condense, canonical
    * column order, YAML header + TSV body; the collected rows are sorted
    * on the driver ([[rowOrdering]]), which costs no sample job or
    * exchange. Single driver-composed file (the
    * reference emits one file; for data-scale output use the Parquet
    * node/edge sinks in graft.kg instead).
    */
  def write(msdf: Msdf, path: String, condense: Boolean = true,
      sort: Boolean = true): Unit = {
    val m1 = if (condense) msdf.condense() else msdf
    val m2 = m1.sortColumns()
    val cols = m2.df.columns
    val header = cols.mkString("\t")
    val rows = m2.df.collect()
    if (sort) java.util.Arrays.sort(rows, rowOrdering(m2.df.schema))
    val body = rows.map { row =>
      cols.indices.map { i =>
        val v = row.get(i)
        if (v == null) "" else v match {
          // Double.toString is shortest-round-trip, which matches pandas'
          // repr for both integral (5.0 -> "5.0") and fractional floats
          // at fixture scale; no special-casing needed
          case d: Double => d.toString
          case other => other.toString
        }
      }.mkString("\t")
    }
    val content = metaToYaml(m2.meta, m2.prefixes) + header + "\n" +
      body.mkString("", "\n", if (body.nonEmpty) "\n" else "")
    val p = java.nio.file.Paths.get(path)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, content.getBytes(StandardCharsets.UTF_8))
  }
}
