package graft.streaming

import graft.grid._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming ingest INTO and out of a Zarr grid store: the live-archive
  * shape (a reanalysis feed emits the next hours; a sensor network emits
  * the next scan). The write face appends each micro-batch of rows
  * through the distributed [[graft.grid.ZarrGridStore.appendFromRows]]
  * (v2 or v3 by layout); the read face tails a growing tree's chunk
  * files as cell rows. Queries opened after a batch see one seamless
  * grid.
  */
object GridStreams {

  /** A foreachBatch writer appending each micro-batch to the Zarr tree
    * at `root` (v2 or v3 — appendFromRows dispatches by layout) along
    * `along`: the streaming head of a cloud archive. Rows carry the
    * store's dim columns plus every variable spanning `along`; the slab
    * schema derives from the store itself per batch. Inherits
    * everything the batch append has: unaligned batches
    * read-modify-write the edge chunk, the commit protocol is
    * scheme-aware (renames on HDFS/local, atomic whole-object PUTs on
    * S3A-style stores), and per-variable stats merge touches only the
    * growing variables' files. Call `.start()` (+ checkpointLocation
    * for restart semantics).
    */
  def appendSink(rows: DataFrame, root: String,
      along: String): DataStreamWriter[Row] =
    rows.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, _: Long) => appendBatch(batch, root, along)
    }

  /** One micro-batch: drop already-present `along` values, build the
    * slab schema from the store's own (non-along dims verbatim, vars
    * verbatim, `along` = the batch's new coordinates ascending), and
    * run the distributed unaligned append.
    *
    * Replay-safe: foreachBatch is at-least-once, so `along` values the
    * store already carries are dropped before appending — a replayed
    * batch becomes a no-op instead of a duplicated slab, upgrading the
    * sink to effectively-once without any checkpoint coupling.
    */
  def appendBatch(batch: DataFrame, root: String,
      along: String): Unit = {
    if (batch.isEmpty) return
    val existing = ZarrGridStore.open(root)
    val exDim = existing.schema.dim(along)
    // replay detection compares in INTERNAL coordinate space: external
    // boxes vary with session config (java8API serves Instant where
    // the store's externalCoord view yields Timestamp, and
    // Timestamp.equals(Instant) is always false) — a missed equality
    // here would re-append a replayed slab. Micros compare to micros.
    val haveInternal = internalSet(exDim.coords)
    val alongVals: IndexedSeq[Any] =
      batch.select(along).distinct().orderBy(along).collect()
        .map(_.get(0)).toIndexedSeq
        .filterNot(v => haveInternal(internalValue(exDim.coords, along, v)))
    if (alongVals.isEmpty) return
    val fresh = batch.filter(batch.col(along).isin(alongVals: _*))
    // complete slabs only — a NaN-filled missing cell arriving in a
    // later batch would be dropped as a replay: silent permanent data
    // loss, so incomplete slabs fail the batch loudly instead
    val cellsPerStep = existing.schema.dims.filterNot(_.name == along)
      .map(_.size.toLong).product
    val got = fresh.count()
    val expect = alongVals.size * cellsPerStep
    require(got == expect,
      s"micro-batch covers $got of $expect cells for its $along steps; " +
        "slabs must arrive complete within one batch")
    val slabDims = existing.schema.dims.map { d =>
      if (d.name != along) d
      else DimDef(along, internalCoords(d.coords, alongVals),
        d.calendar, d.units, d.attrs)
    }
    ZarrGridStore.appendFromRows(fresh,
      GridSchema(slabDims, existing.schema.vars, existing.schema.attrs),
      root, along)
    ()
  }

  /** Internal (stored) values of a growable coordinate axis, as a
    * membership test.
    */
  private def internalSet(c: CoordArray): Any => Boolean = c match {
    case IntCoords(v) => v.toSet.asInstanceOf[Set[Any]]
    case LongCoords(v) => v.toSet.asInstanceOf[Set[Any]]
    case DoubleCoords(v) => v.toSet.asInstanceOf[Set[Any]]
    case TimeCoords(v) => v.toSet.asInstanceOf[Set[Any]]
    case other => throw new IllegalArgumentException(
      s"streaming zarr append cannot grow a " +
        s"${other.getClass.getSimpleName} axis")
  }

  /** One external (Row) coordinate value -> the axis' internal
    * representation; loud (with the axis name and the offending box)
    * on nulls and unexpected types instead of a bare MatchError.
    */
  private def internalValue(template: CoordArray, axis: String,
      v: Any): Any = {
    def bad(): Nothing = throw new IllegalArgumentException(
      s"streaming zarr append: $axis value " +
        s"${if (v == null) "NULL" else s"$v (${v.getClass.getName})"} " +
        s"does not fit a ${template.getClass.getSimpleName} axis")
    template match {
      case _: IntCoords => v match {
        case i: Int => i
        case l: Long if l.isValidInt => l.toInt
        case _ => bad()
      }
      case _: LongCoords => v match {
        case l: Long => l
        case i: Int => i.toLong
        case _ => bad()
      }
      case _: DoubleCoords => v match {
        case d: Double => d
        case _ => bad()
      }
      case _: TimeCoords => v match {
        case t: java.sql.Timestamp =>
          org.apache.spark.sql.catalyst.util.DateTimeUtils
            .fromJavaTimestamp(t)
        case i: java.time.Instant =>
          org.apache.spark.sql.catalyst.util.DateTimeUtils
            .instantToMicros(i)
        case _ => bad()
      }
      case _ => bad()
    }
  }

  /** External (Row) coordinate values -> a CoordArray of the same kind
    * as `template` (the inverse of [[LazyGridView.externalCoord]] for
    * the axis types a streaming append can grow).
    */
  private def internalCoords(template: CoordArray,
      vals: IndexedSeq[Any]): CoordArray = template match {
    case _: IntCoords => IntCoords(vals.map(
      internalValue(template, "along", _).asInstanceOf[Int]).toArray)
    case _: LongCoords => LongCoords(vals.map(
      internalValue(template, "along", _).asInstanceOf[Long]).toArray)
    case _: DoubleCoords => DoubleCoords(vals.map(
      internalValue(template, "along", _).asInstanceOf[Double]).toArray)
    case _: TimeCoords => TimeCoords(vals.map(
      internalValue(template, "along", _).asInstanceOf[Long]).toArray)
    case other => throw new IllegalArgumentException(
      s"streaming zarr append cannot grow a " +
        s"${other.getClass.getSimpleName} axis")
  }

  /** Tail a growing Zarr tree as a STREAM — the read side of the
    * archive's streaming story (the write side is [[appendSink]]):
    * Spark's binaryFile streaming source watches `<root>/<varName>` —
    * its checkpointed file tracking provides exactly-once chunk
    * delivery — and every chunk file (present at start or appended
    * later) decodes map-side into cell rows `(dim coords..., value)`,
    * the same rows the batch table serves. This is the forecast-cycle
    * shape, where each new model run lands new chunk files and then
    * commits grown array metadata (xarray `append_dim` and
    * [[graft.grid.ZarrGridStore.appendFromRows]] write in that order).
    * Works on v2 (both dimension separators) and v3 default
    * `c/`-prefixed keys, through the full decode matrix (compressors,
    * blosc, filters, packed dtypes, sharded v3 —
    * [[graft.grid.ZarrGridStore.decodeChunkPayload]] is the shared
    * path); scaled variables surface in their logical masked-double
    * form, and PADDED edge cells are dropped (they are storage, not
    * data). A rewritten edge chunk is not re-delivered: file streams
    * see each path once, so tailed archives should grow by whole
    * chunks.
    *
    * Ordering contract: a poll racing an in-flight append can surface
    * a chunk whose `along` coords are not yet committed. The decode
    * task re-reads the store metadata with a short exponential backoff
    * (one ~6 s budget per partition) until the commit lands; if the
    * tree stays torn past the budget the task fails, which (once task
    * retries are exhausted) STOPS the streaming query — the binaryFile
    * checkpoint has already planned the file, so recovery is a manual
    * restart after the writer commits, not an automatic re-poll.
    */
  def tailCells(spark: org.apache.spark.sql.SparkSession, root: String,
      varName: String): DataFrame = {
    val store0 = ZarrGridStore.open(root)
    val v = store0.schema.vars.find(_.name == varName).getOrElse(
      throw new IllegalArgumentException(s"unknown var $varName"))
    val outSchema = store0.schema.tableSchema(v.dims, Seq(v))
    val binSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("path",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("modificationTime",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("length",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content",
        org.apache.spark.sql.types.BinaryType)))
    val raw = spark.readStream.format("binaryFile")
      .schema(binSchema)
      .option("maxFileAge", "36500d") // deliver the whole archive
      .option("recursiveFileLookup", "true") // "/"-separated chunk keys
      .load(s"${root.stripSuffix("/")}/$varName")
      .select("path", "content")
    val name = varName
    val cleanRoot = root.stripSuffix("/")
    val hconf = store0.hconf
    raw.mapPartitions { rows =>
      // fresh metadata per task: sees extents committed by appends
      var store = ZarrGridStore.open(cleanRoot, hconf)
      def meta = store.arrays(name)
      def dims = store.schema.vars.find(_.name == name).get.dims
        .map(store.schema.dim)
      // ONE shared backoff budget per partition: a metadata refresh
      // covers every file the batch planned, so several not-yet-
      // committed chunk files wait out one budget total, not a
      // multiple of it per file
      var triesLeft = 10
      rows.flatMap { r =>
        val p = r.getString(0)
        val marker = "/" + name + "/"
        val rel = p.substring(p.lastIndexOf(marker) + marker.length)
        // chunk keys are all-numeric (after the optional v3 "c"
        // component); everything else under the dir is metadata
        val parts = rel.replace('/', '.').split('.')
        val idxParts =
          if (parts.nonEmpty && parts.head == "c") parts.tail else parts
        if (idxParts.isEmpty || !idxParts.forall(_.forall(_.isDigit)))
          Iterator.empty
        else {
          val ci = idxParts.map(_.toInt)
          val nd = meta.nd
          require(ci.length == nd, s"bad chunk key $rel")
          def beyondExtent = (0 until nd).exists(k =>
            ci(k) * meta.chunkShape(k) >= meta.shape(k))
          var tries = 0
          while (beyondExtent && triesLeft > 0) {
            Thread.sleep(100L << math.min(tries, 3))
            store = ZarrGridStore.open(cleanRoot, hconf)
            tries += 1
            triesLeft -= 1
          }
          require(!beyondExtent,
            s"chunk $rel beyond committed $name extent after $tries " +
              "metadata re-reads — torn append; restart the query once " +
              "the writer commits")
          val a = meta
          val dcur = dims
          val chunkShape = a.chunkShape.toArray
          val start = Array.tabulate(nd)(k => ci(k) * chunkShape(k))
          val data = ZarrGridStore.applyMaskScale(a,
            ZarrGridStore.decodeChunkPayload(p, a,
              r.getAs[Array[Byte]](1)))
          val n = chunkShape.product
          (0 until n).iterator.flatMap { flat =>
            val idx = new Array[Int](nd)
            var rest = flat
            var k = nd - 1
            var inExtent = true
            while (k >= 0) {
              idx(k) = start(k) + rest % chunkShape(k)
              rest /= chunkShape(k)
              if (idx(k) >= a.shape(k)) inExtent = false
              k -= 1
            }
            if (!inExtent) Iterator.empty // padded edge cell
            else {
              val vals = new Array[Any](nd + 1)
              var k2 = 0
              while (k2 < nd) {
                vals(k2) =
                  LazyGridView.externalCoord(dcur(k2).coords, idx(k2))
                k2 += 1
              }
              vals(nd) = (data: Any) match {
                case arr: Array[Double] => arr(flat)
                case arr: Array[Float] => arr(flat)
                case arr: Array[Int] => arr(flat)
                case arr: Array[Long] => timeBridge(arr(flat), v.dtype)
              }
              Iterator.single(Row.fromSeq(vals.toIndexedSeq))
            }
          }
        }
      }
    }(org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema))
  }

  /** Long cell value -> the external (Row) type the outSchema
    * declares: timestamp/duration variables decode as raw micros longs
    * and must surface as java.sql.Timestamp / java.time.Duration (the
    * same bridge as LazyGridView.externalCoord) or the RowEncoder
    * rejects the row at runtime; the NaT sentinel surfaces as SQL NULL
    * exactly like the batch scan (GridSource).
    */
  private def timeBridge(x: Long, dtype: GridType): Any = dtype match {
    case GTimestamp =>
      if (x == Long.MinValue) null
      else org.apache.spark.sql.catalyst.util.DateTimeUtils
        .toJavaTimestamp(x)
    case GDuration =>
      if (x == Long.MinValue) null
      else java.time.Duration.ofSeconds(x / 1000000L,
        (x % 1000000L) * 1000L)
    case _ => x
  }
}
