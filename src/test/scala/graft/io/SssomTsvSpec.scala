package graft.io

import graft.SparkSpec
import graft.core._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.asc_nulls_last
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}

class SssomTsvSpec extends SparkSpec {

  test("parse basic.tsv: 141 rows (reference tests/test_collapse.py:27-34)") {
    val msdf = SssomTsv.read(spark, fixture("basic.tsv"))
    assert(msdf.df.count() == 141)
    assert(msdf.df.columns.contains("subject_id"))
    // confidence is typed double
    assert(msdf.df.schema("confidence").dataType ==
      org.apache.spark.sql.types.DoubleType)
  }

  test("metadata header parsed: curie_map + list + scalar") {
    val msdf = SssomTsv.read(spark, fixture("basic.tsv"))
    assert(msdf.prefixes.expand("x:q").contains("http://example.org/x/q"))
    assert(msdf.metaMap.get("mapping_set_id").exists(
      _.asString == "https://w3id.org/sssom/mapping/tests/data/basic.tsv"))
    assert(msdf.metaMap.get("creator_id").exists(
      _.asString == "orcid:1234|orcid:5678"))
    // builtins always win
    assert(msdf.prefixes.expand("owl:a")
      .contains("http://www.w3.org/2002/07/owl#a"))
  }

  test("parse reconcile_1.tsv: 3 rows, no confidence column (test_reconcile.py:62-71)") {
    val msdf = SssomTsv.read(spark, fixture("reconcile_1.tsv"))
    assert(msdf.df.count() == 3)
    assert(!msdf.df.columns.contains("confidence"))
  }

  test("parse basic3.tsv and basic7.tsv row counts") {
    assert(SssomTsv.read(spark, fixture("basic3.tsv")).df.count() == 11)
    assert(SssomTsv.read(spark, fixture("basic7.tsv")).df.count() == 33)
  }

  test("trailing tabs header robustness (reference tests/test_parsers.py:457)") {
    val msdf = SssomTsv.read(spark, fixture("trailing-tabs.sssom.tsv"))
    assert(msdf.df.count() > 0)
  }

  test("write→read round trip preserves rows and metadata") {
    val msdf = SssomTsv.read(spark, fixture("basic3.tsv"))
    val out = java.nio.file.Files.createTempDirectory("sssom").toString + "/rt.tsv"
    SssomTsv.write(msdf, out)
    val back = SssomTsv.read(spark, out)
    assert(back.df.count() == msdf.df.count())
    assert(back.prefixes.expand("a:x").contains("http://example.org/a/x"))
  }

  test("propagate fills mapping_tool from metadata when column absent") {
    val msdf = SssomTsv.read(spark, fixture("reconcile_1.tsv"))
    // reconcile_1 has no mapping_tool column; metadata may or may not carry it
    // — propagate() ran at parse; just assert invariant: any metadata
    // propagatable slot is no longer both in meta and absent in df
    Schema.propagatableSlots.foreach { s =>
      assert(!(msdf.metaMap.contains(s) && !msdf.df.columns.contains(s)))
    }
  }

  test("the writer's driver row order equals orderBy(asc_nulls_last) on every column") {
    val strs = Gen.oneOf[String](null, "", "a", "ab", "B", "\u00e9",
      "\uE000", "\uD834\uDD1E", "\uE000x", "\uD834\uDD1Ea")
    val dbls = Gen.oneOf[java.lang.Double](null, Double.NaN, 0.0, -0.0, 1.5,
      -2.0, Double.PositiveInfinity, Double.NegativeInfinity)
    val longs = Gen.oneOf[java.lang.Long](null, Long.MinValue, -1L, 0L, 7L)
    val bools = Gen.oneOf[java.lang.Boolean](null, false, true)
    val schema = StructType(Seq(StructField("s", StringType),
      StructField("c", DoubleType), StructField("t", StringType),
      StructField("n", LongType), StructField("b", BooleanType)))
    val rows = Gen.chooseNum(0, 30).flatMap(Gen.listOfN(_,
      for (a <- strs; c <- dbls; b <- strs; n <- longs; z <- bools)
        yield Row(a, c, b, n, z)))
    // Scala's == never equates NaN, so doubles compare by their bits, and
    // rows tied under the order (-0.0 vs 0.0) may come in either order
    def norm(r: Row) = r.toSeq.map {
      case d: Double => java.lang.Double.doubleToLongBits(d + 0.0)
      case v => v
    }
    val prop = Prop.forAll(rows) { rs =>
      val df = spark.createDataFrame(java.util.Arrays.asList(rs: _*), schema)
      val spark0 = df.orderBy(df.columns.map(c => asc_nulls_last(c)).toIndexedSeq: _*)
        .collect().toSeq.map(norm(_))
      val driver = df.collect().sorted(SssomTsv.rowOrdering(schema))
        .toSeq.map(norm(_))
      driver == spark0
    }
    val r = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(40), prop)
    assert(r.passed, r.status.toString)
    intercept[IllegalArgumentException](
      SssomTsv.rowOrdering(StructType(Seq(StructField("x", BinaryType)))))
  }
}
