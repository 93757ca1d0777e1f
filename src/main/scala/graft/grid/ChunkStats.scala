package graft.grid

/** Per-chunk value statistics every writer records at write time: the
  * (min, max) zone map that prunes scans on data-variable predicates
  * and the value sum that metadata-answered SUM/AVG folds in. Keys and
  * persistence belong to the store (Zarr trees keep them in the
  * `.graft-stats.json` sidecar); this object is only the law.
  */
object ChunkStats {

  /** (min, max) of one chunk payload — Long-boxed for long kinds, Double
    * otherwise; None when any value is non-finite (NaN chunks must not
    * feed containment reasoning) or the chunk is empty.
    */
  def chunkStats(data: AnyRef): Option[(Any, Any)] = data match {
    case a: Array[Double] if a.nonEmpty =>
      var mn = a(0); var mx = a(0); var i = 0
      while (i < a.length) {
        val x = a(i)
        if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x))
          return None
        if (x < mn) mn = x; if (x > mx) mx = x; i += 1
      }
      Some((mn, mx))
    case a: Array[Float] if a.nonEmpty =>
      var mn = a(0); var mx = a(0); var i = 0
      while (i < a.length) {
        val x = a(i)
        if (java.lang.Float.isNaN(x) || java.lang.Float.isInfinite(x))
          return None
        if (x < mn) mn = x; if (x > mx) mx = x; i += 1
      }
      Some((mn.toDouble, mx.toDouble))
    case a: Array[Int] if a.nonEmpty =>
      Some((a.min.toDouble, a.max.toDouble))
    case a: Array[Long] if a.nonEmpty =>
      // Long.MinValue doubles as the NaT (null) sentinel for time
      // variables; a chunk containing it reports no bounds (the same
      // all-values-known rule NaN enforces for floats). Conservative
      // for a genuine i8 MinValue — sound either way.
      val mn = a.min
      if (mn == Long.MinValue) None else Some((mn, a.max))
    case a: Array[String] if a.nonEmpty =>
      // UTF-8 binary order — the order string predicates prune in
      // (graft.sources.Utf8Order == Spark's UTF8_BINARY). Any null
      // element hides the chunk from stats (the all-values-known rule
      // NaN enforces for floats). Zarr sidecars serialize these as
      // JSON strings. One UTF-8 encode per element (minMax caches the
      // running extrema's bytes).
      graft.sources.Utf8Order.minMax(a, 0, a.length)
    case _ => None
  }

  /** Value sum of one chunk payload — float/double kinds only (the
    * kinds whose Spark SUM is DoubleType, matching the metadata
    * constant a sum rewrite folds in); None when any value is
    * non-finite, so NaN/Inf chunks always reach the scan and IEEE
    * semantics propagate through the real aggregate.
    */
  def chunkSum(data: AnyRef): Option[Double] = data match {
    case a: Array[Double] if a.nonEmpty =>
      var s = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i)
        if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x))
          return None
        s += x; i += 1
      }
      Some(s)
    case a: Array[Float] if a.nonEmpty =>
      var s = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i)
        if (java.lang.Float.isNaN(x) || java.lang.Float.isInfinite(x))
          return None
        s += x; i += 1
      }
      Some(s)
    case _ => None
  }
}
