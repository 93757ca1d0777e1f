package graft.grid

/** Shared hyperslab gather over a chunked nd array: visit every chunk a
  * requested region overlaps, obtain the chunk's payload from a caller
  * callback, and copy the intersection into one flat C-order output —
  * innermost-dimension runs via System.arraycopy (type-agnostic on
  * primitive arrays). Used by [[ZarrGridStore]] for plain chunks and
  * for the inner chunks of v3 shards; stored chunks always carry the
  * FULL chunk shape (Zarr pads edge chunks), so the copy addresses every
  * chunk with the same strides.
  */
/** Inner-chunk geometry of an outer block — the single home of the
  * row-offset arithmetic every shard encoder/decoder shares
  * (fixed-width and vlen, read and write directions). Inner chunks
  * index in C order over the inner-chunk grid; each has `innerRows`
  * rows of `rowLen` elements; `rowOffsets(k)` yields each row's
  * first-element offset within the OUTER block's flat C-order array.
  */
private[grid] final class InnerGrid(outer: Seq[Int], inner: Seq[Int]) {
  private val nd = outer.length
  val innerPerDim: Array[Int] = Array.tabulate(nd)(d => outer(d) / inner(d))
  val nInner: Int = innerPerDim.product
  val innerRows: Int = if (nd == 1) 1 else inner.init.product
  val rowLen: Int = inner(nd - 1)
  val innerN: Int = inner.product
  private val outerStrides = ChunkAssembly.strides(outer.toArray)
  private val innerRowStrides = ChunkAssembly.strides(
    if (nd == 1) Array(1) else inner.init.toArray)
  private val innerArr = inner.toArray

  def rowOffsets(k: Int): Array[Int] = {
    val pos = new Array[Int](nd)
    var rest = k
    var d = nd - 1
    while (d >= 0) { pos(d) = rest % innerPerDim(d); rest /= innerPerDim(d); d -= 1 }
    val out = new Array[Int](innerRows)
    var r = 0
    while (r < innerRows) {
      var off = pos(nd - 1) * innerArr(nd - 1)
      var rem = r
      var d2 = 0
      while (d2 < nd - 1) {
        val rowD = rem / innerRowStrides(d2)
        rem %= innerRowStrides(d2)
        off += (pos(d2) * innerArr(d2) + rowD) * outerStrides(d2)
        d2 += 1
      }
      out(r) = off
      r += 1
    }
    out
  }
}

private[grid] object ChunkAssembly {

  private[grid] def strides(shape: Array[Int]): Array[Int] = {
    val s = new Array[Int](shape.length)
    var acc = 1
    var k = shape.length - 1
    while (k >= 0) { s(k) = acc; acc *= shape(k); k -= 1 }
    s
  }

  private[grid] def alloc(dtype: GridType, n: Int): AnyRef = dtype match {
    case GDouble => new Array[Double](n)
    case GFloat => new Array[Float](n)
    case GInt => new Array[Int](n)
    case GLong | GTimestamp | GDuration => new Array[Long](n)
    // vlen string chunks (zarr v3): object arrays copy through the same
    // System.arraycopy odometer as primitives
    case GString => new Array[String](n)
  }

  /** Copy `src` — flat C-order of shape `dstShape` except axis
    * `axisPos` where its extent is `srcAxisLen` — into `dst` (flat
    * C-order of `dstShape`) starting at axis offset `dstAxisOff`. The
    * concatenation primitive unaligned appends use to rebuild a store's
    * partial edge chunk: old planes at offset 0, the slab's planes
    * after them.
    */
  private[grid] def copyAxisSlab(dst: AnyRef, dstShape: Array[Int],
      src: AnyRef, srcAxisLen: Int, axisPos: Int, dstAxisOff: Int): Unit = {
    val nd = dstShape.length
    val srcShape = dstShape.clone()
    srcShape(axisPos) = srcAxisLen
    val dstStride = strides(dstShape)
    val srcStride = strides(srcShape)
    val run = srcShape(nd - 1)
    val axisShift = dstAxisOff * dstStride(axisPos)
    // odometer over the SRC outer dims; inner runs via arraycopy
    val pos = new Array[Int](nd)
    var rows = 1
    var k = 0
    while (k < nd - 1) { rows *= srcShape(k); k += 1 }
    var r = 0
    while (r < rows) {
      var srcOff = 0
      var dstOff = axisShift
      var d = 0
      while (d < nd - 1) {
        srcOff += pos(d) * srcStride(d)
        dstOff += pos(d) * dstStride(d)
        d += 1
      }
      System.arraycopy(src, srcOff, dst, dstOff, run)
      var j = nd - 2
      var carry = true
      while (carry && j >= 0) {
        pos(j) += 1
        if (pos(j) < srcShape(j)) carry = false
        else { pos(j) = 0; j -= 1 }
      }
      if (carry) r = rows else r += 1
    }
  }

  /** Gather `ranges` (start, length per dim) of an array with dimension
    * sizes `dimSz`, chunked by `chunkSz`. `readChunk(chunkIdx)` must
    * return the chunk's payload as a flat C-order primitive array of the
    * full `chunkSz` shape, edge chunks padded (the copy only touches
    * the intersection with the array extent, so padding cells are never
    * read).
    */
  def gather(ranges: Seq[(Int, Int)], chunkSz: Seq[Int], dimSz: Seq[Int],
      dtype: GridType, readChunk: Seq[Int] => AnyRef): AnyRef = {
    val nd = ranges.length
    val outShape = ranges.map(_._2).toArray
    val n = outShape.product
    val out = alloc(dtype, n)
    val outStride = strides(outShape)
    val srcStride = strides(chunkSz.toArray)
    val cLo = (0 until nd).map(i => ranges(i)._1 / chunkSz(i))
    val cHi = (0 until nd).map(i =>
      (ranges(i)._1 + ranges(i)._2 - 1) / chunkSz(i))
    // odometer over overlapped chunk indices
    val ci = cLo.toArray
    var done = nd == 0
    while (!done) {
      val chunkStart = (0 until nd).map(i => ci(i) * chunkSz(i))
      val effShape = (0 until nd)
        .map(i => math.min(chunkSz(i), dimSz(i) - chunkStart(i))).toArray
      val lo = (0 until nd)
        .map(i => math.max(ranges(i)._1, chunkStart(i))).toArray
      val hi = (0 until nd).map(i =>
        math.min(ranges(i)._1 + ranges(i)._2,
          chunkStart(i) + effShape(i))).toArray
      val src = readChunk(ci.toSeq)
      // copy [lo, hi): odometer over outer dims, arraycopy inner runs
      val run = hi(nd - 1) - lo(nd - 1)
      val pos = lo.clone()
      var copying = true
      while (copying) {
        var srcOff = 0
        var dstOff = 0
        var k = 0
        while (k < nd) {
          srcOff += (pos(k) - chunkStart(k)) * srcStride(k)
          dstOff += (pos(k) - ranges(k)._1) * outStride(k)
          k += 1
        }
        System.arraycopy(src, srcOff, out, dstOff, run)
        // advance outer dims (all but the innermost)
        var j = nd - 2
        var carry = true
        while (carry && j >= 0) {
          pos(j) += 1
          if (pos(j) < hi(j)) carry = false
          else { pos(j) = lo(j); j -= 1 }
        }
        if (carry) copying = false
      }
      // next overlapped chunk
      var j = nd - 1
      var carry = true
      while (carry && j >= 0) {
        ci(j) += 1
        if (ci(j) <= cHi(j)) carry = false
        else { ci(j) = cLo(j); j -= 1 }
      }
      if (carry) done = true
    }
    out
  }
}
