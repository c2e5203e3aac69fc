package graft.core

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{DataType, LongType, StringType}

/** The one local-vs-distributed decision shared by every driver-local
  * fast path (graph kernels, CC union-find, BPE merge loop, quality GD),
  * plus the id indexer and id order those local kernels share.
  */
object SizeGate {

  /** Every row of `df` when it holds at most `maxRows` rows, else None.
    *
    * One bounded `take(maxRows + 1)` is both the size gate and, when the
    * input fits, the collect: the local kernel needs no further job. On
    * a miss the probe reads only enough partitions to exceed the cutoff.
    * `maxRows <= 0` forces the distributed path without running a job.
    */
  def collectIfSmall(df: DataFrame, maxRows: Long): Option[Array[Row]] = {
    if (maxRows <= 0) return None
    val cutoff = math.min(maxRows, Int.MaxValue - 1L).toInt
    val rows = df.take(cutoff + 1)
    if (rows.length <= cutoff) Some(rows) else None
  }

  /** Id types the local kernels can order exactly like Spark does. */
  private def idTypeSupported(dt: DataType): Boolean =
    dt == LongType || dt == StringType

  /** The driver-local view of an edge list, shared by every graph fast
    * path: when its two leading columns are long or string ids of one
    * type and it holds at most `maxRows` rows, the rows indexed by
    * [[AnyIds.ofEdges]]; else None, and the caller runs its distributed
    * kernel. Directed kernels pass (src, dst) with multiplicity,
    * undirected ones their canonical edge set.
    */
  private[graft] def localGraph(edges: DataFrame,
      maxRows: Long): Option[(AnyIds, Array[Int], Array[Int])] = {
    val idType = edges.schema(0).dataType
    if (idTypeSupported(idType) && edges.schema(1).dataType == idType)
      collectIfSmall(edges, maxRows).map(AnyIds.ofEdges)
    else None
  }

  /** UTF-8 binary (code-point) less-than: the order of Spark's
    * UTF8String and DuckDB's VARCHAR. Java's String.compareTo (UTF-16
    * code units) disagrees on supplementary vs U+E000..U+FFFF characters,
    * and a signed byte compare disagrees on every non-ASCII character.
    * Equal prefixes advance both cursors identically, so one index works.
    */
  private[graft] def u8Less(a: String, b: String): Boolean = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val ca = a.codePointAt(i); val cb = b.codePointAt(i)
      if (ca != cb) return ca < cb
      i += Character.charCount(ca)
    }
    a.length < b.length
  }

  /** Spark's own `<` over the supported id types: numeric for longs,
    * UTF-8 binary for strings.
    */
  private[graft] def idLess(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Long, y: Long)     => x < y
    case (x: String, y: String) => u8Less(x, y)
    case _ => throw new IllegalStateException("unsupported id type")
  }

  /** Dense indexer: ids map to [0, n) ints once, so kernel state lives
    * in primitive arrays.
    */
  private[graft] final class AnyIds {
    val index = new java.util.HashMap[Any, Integer]()
    val ids = scala.collection.mutable.ArrayBuffer.empty[Any]
    def idOf(x: Any): Int = {
      val got = index.get(x)
      if (got != null) got.intValue()
      else { val i = ids.length; index.put(x, i); ids += x; i }
    }
    def n: Int = ids.length
  }

  private[graft] object AnyIds {
    /** Index the two leading columns of edge rows: (ids, srcIdx, dstIdx),
      * one array slot per row (parallel edges kept).
      */
    def ofEdges(rows: Array[Row]): (AnyIds, Array[Int], Array[Int]) = {
      val ix = new AnyIds
      val ea = new Array[Int](rows.length)
      val eb = new Array[Int](rows.length)
      var i = 0
      while (i < rows.length) {
        ea(i) = ix.idOf(rows(i).get(0)); eb(i) = ix.idOf(rows(i).get(1))
        i += 1
      }
      (ix, ea, eb)
    }
  }
}
