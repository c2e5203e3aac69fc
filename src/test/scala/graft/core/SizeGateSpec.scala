package graft.core

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The shared local-vs-distributed gate: exact boundary behaviour, and
  * no Spark job at all when the caller forces the distributed path.
  */
class SizeGateSpec extends SparkSpec {

  test("collectIfSmall: exactly maxRows rows collect, one more does not") {
    val df = spark.range(0, 5, 1, 3).toDF("id")
    val got = SizeGate.collectIfSmall(df, 5)
    assert(got.map(_.map(_.getLong(0)).sorted.toSeq) == Some(0L until 5L))
    assert(SizeGate.collectIfSmall(df, 4).isEmpty)
    assert(SizeGate.collectIfSmall(spark.range(0).toDF("id"), 1)
      .exists(_.isEmpty))
  }

  test("collectIfSmall: maxRows <= 0 is None without submitting a job") {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        seen.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      val df = spark.range(0, 10).toDF("id")
      sc.setJobGroup("size-gate-probe", "gate under test")
      assert(SizeGate.collectIfSmall(df, 0).isEmpty)
      assert(SizeGate.collectIfSmall(df, -1).isEmpty)
      // a sentinel job: the listener bus delivers in order, so once the
      // sentinel is seen every job the gate could have run was seen too
      sc.setJobGroup("size-gate-sentinel", "sentinel")
      spark.range(1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.contains("size-gate-sentinel") &&
          System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains("size-gate-sentinel"))
      assert(!seen.contains("size-gate-probe"))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("localGraph: long and string ids index under the cutoff; other " +
      "id types, mixed types and oversize edge lists do not") {
    import spark.implicits._
    val longs = Seq((3L, 1L), (1L, 2L), (3L, 1L)).toDF("src", "dst")
    val (ix, ea, eb) = SizeGate.localGraph(longs, 3).get
    // one slot per row, parallel edges kept, ids in first-seen order
    assert(ix.ids.toSeq == Seq(3L, 1L, 2L))
    assert(ea.toSeq == Seq(0, 1, 0) && eb.toSeq == Seq(1, 2, 1))
    assert(SizeGate.localGraph(longs, 2).isEmpty)
    assert(SizeGate.localGraph(longs, 0).isEmpty)
    val strs = Seq(("a", "b")).toDF("src", "dst")
    assert(SizeGate.localGraph(strs, 10).map(_._1.ids.toSeq) ==
      Some(Seq("a", "b")))
    assert(SizeGate.localGraph(Seq((1, 2)).toDF("src", "dst"), 10).isEmpty)
    assert(SizeGate.localGraph(Seq((1L, "b")).toDF("src", "dst"), 10).isEmpty)
  }

  test("u8Less is Spark's string order: unsigned UTF-8, not UTF-16") {
    val clef = new String(Character.toChars(0x1D11E))
    val ids = Seq("", "a", "ab", "b", "\u00E9", "\uE000", "\uFFFF", clef,
      s"a$clef", "a\uE000")
    import spark.implicits._
    val sparkOrder = ids.toDF("s").orderBy("s").as[String].collect().toSeq
    assert(ids.sortWith(SizeGate.u8Less) == sparkOrder)
    assert(SizeGate.u8Less("\uE000", clef) && !SizeGate.u8Less(clef, "\uE000"))
    assert(SizeGate.idLess(-3L, 2L) && !SizeGate.idLess(2L, 2L))
  }
}
