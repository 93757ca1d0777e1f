package graft.grid

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import java.nio.{ByteBuffer, ByteOrder}
import scala.jdk.CollectionConverters._

/** One Zarr v2 array's parsed metadata — everything an executor needs to
  * locate and decode its chunk files, small enough to serialize into
  * every InputPartition.
  */
final case class ZarrArrayMeta(
    name: String,
    shape: Seq[Int],
    chunkShape: Seq[Int],
    dtype: GridType,
    bigEndian: Boolean,
    /** (codec id, level): zlib | gzip | zstd; None = raw bytes. */
    compressor: Option[(String, Int)],
    /** Cell value of chunks that have no file (and of edge padding);
      * NaN when the tree declares `fill_value: null`.
      */
    fillValue: Double,
    /** `dimension_separator`: "." (default) or "/" (nested layout). */
    dimSep: String,
    /** `_ARRAY_DIMENSIONS` (the xarray convention naming each axis). */
    dims: Seq[String],
    attrs: Map[String, String],
    /** Chunk-key prefix: "" for v2 keys (`0.1`), "c" for the v3
      * default chunk-key encoding (`c/0/1`, `dimSep`-joined).
      */
    keyPrefix: String = "",
    /** v3 `sharding_indexed`: each stored file is a SHARD of the outer
      * `chunkShape` holding inner chunks + an index. When set,
      * `compressor`/`bigEndian` are unused — the inner pipeline here
      * governs the bytes.
      */
    sharding: Option[ShardMeta] = None,
    /** Packed storage narrower than the logical type (i1/i2/u1/u2/u4
      * small ints, f2 half floats — how public archives store scaled /
      * ML data): the on-disk element layout, widened at decode.
      */
    stored: Option[StoredElem] = None,
    /** v2 numcodecs filter pipeline (applied before the compressor at
      * write; undone in reverse after decompression). `shuffle` and
      * `delta` supported.
      */
    filters: Seq[ZarrFilter] = Nil,
    /** Fill value of vlen STRING arrays (the numeric `fillValue` field
      * cannot carry it); "" unless the metadata declares one.
      */
    stringFill: String = "",
    /** Axis permutation the STORED chunk layout applies (v3 `transpose`
      * codec `order`, or the reversal for v2 `order: "F"` column-major
      * arrays): stored axis i is logical axis `transposeOrder(i)`.
      * None/identity = plain C order.
      */
    transposeOrder: Option[Seq[Int]] = None) {
  def nd: Int = shape.length

  /** On-disk element width (differs from `dtype.byteWidth` for packed
    * small-int storage).
    */
  def storedWidth: Int = stored.map(_.width).getOrElse(dtype.byteWidth)

  /** The READ-GRANULARITY chunk shape: the inner chunk grid for sharded
    * arrays (inner chunks are individually addressable via the shard
    * index + ranged reads), the stored chunk shape otherwise. This is
    * what scans partition and prune on — sharding exists precisely so
    * archives can use GB-sized shard FILES without forcing GB-sized
    * reads, so the task unit must be the inner chunk, not the file.
    */
  def effectiveChunk: Seq[Int] =
    sharding.map(_.innerShape).getOrElse(chunkShape)

  /** Storage key of chunk `ci` relative to the array dir. 0-d arrays
    * store their single chunk under "0" (zarr v2) / bare "c" (v3
    * default encoding) — zarr-python's spellings.
    */
  def chunkKey(ci: Seq[Int]): String =
    if (ci.isEmpty) { if (keyPrefix.isEmpty) "0" else keyPrefix }
    else if (keyPrefix.isEmpty) ci.mkString(dimSep)
    else keyPrefix + dimSep + ci.mkString(dimSep)
}

/** On-disk packed element narrower than its logical type. */
sealed trait StoredElem { def width: Int }

/** Packed integer: byte width 1/2/4 and signedness (widens to
  * GInt/GLong).
  */
final case class StoredInt(width: Int, signed: Boolean) extends StoredElem

/** IEEE 754 half precision (widens to GFloat) — the layout ML
  * embedding archives commonly use.
  */
case object StoredHalf extends StoredElem { val width = 2 }

/** Raw numpy datetime64/timedelta64 storage (`<M8[ns]` etc., the
  * layout plain zarr-python emits for numpy time arrays — reference
  * xarray_sql/df.py:395, tests/test_cft.py:165-170): int64 offsets in
  * the declared unit, converted to MICROSECONDS at decode (ns FLOORS
  * to µs — numpy's unit-cast semantics, documented precision loss;
  * s/ms widen exactly). NaT (Long.MinValue, numpy's marker) is kept
  * as the sentinel: data variables surface it as SQL NULL (xarray's
  * NaT semantics), coordinate arrays reject it loudly (axis labels
  * are row identity). µs = stored * num / den.
  */
final case class StoredTime64(num: Long, den: Long) extends StoredElem {
  val width = 8
}

/** CF-ENCODED time storage on a DATA variable: int32/int64 offsets in
  * `units` ("<step> since <date>", or a bare duration step) under a
  * Gregorian-like `calendar` — what xarray's `to_zarr` emits for
  * datetime64/timedelta64 DATA variables (its `decode_cf` reverses it;
  * coordinates take the same bridge eagerly in `buildDim`). Values
  * equal to the CF `_FillValue` attribute surface as SQL NULL via the
  * NaT sentinel. Real-timeline calendars decode linearly; noleap /
  * all_leap route each offset through [[graft.time.CfCalendar]]'s own
  * year-length arithmetic.
  */
final case class StoredCfTime(w: Int, units: String, calendar: String,
    fillRaw: Option[Long]) extends StoredElem {
  val width: Int = w
}

/** Fixed-width string element (`|S<n>` bytes or `<U<n>` UTF-32 code
  * points, NUL-padded — numpy's fixed-width layouts): decodes to
  * GString. Only legal on coordinate arrays (station-style dims); data
  * variables stay numeric.
  */
final case class StoredStr(nchars: Int, utf32: Boolean) extends StoredElem {
  def width: Int = if (utf32) nchars * 4 else nchars
}

/** Variable-length UTF-8 string element — zarr-python 3's DEFAULT for
  * string arrays (`data_type: "string"` + the `vlen-utf8` codec, whose
  * chunk encoding is numcodecs VLenUTF8: a uint32-LE item count then
  * per item a uint32-LE byte length + UTF-8 bytes). Legal on both
  * coordinates and data variables; `width` is 0 because elements have
  * no fixed stored width (all size checks branch before using it).
  */
case object StoredVlenStr extends StoredElem { val width = 0 }

/** One parsed numcodecs filter: `shuffle` (byte shuffle with
  * `elementSize` lanes) or `delta` (successive differences in the
  * element domain of `dtypeStr`, numpy wrap-on-overflow semantics).
  */
final case class ZarrFilter(id: String, elementSize: Int, dtypeStr: String)

/** Parsed v3 `sharding_indexed` codec configuration: inner chunk grid
  * + inner codec pipeline + index framing. The index is `nInner`
  * little-endian uint64 (offset, nbytes) pairs in C order over the
  * inner-chunk grid (missing inner chunks are all-ones), optionally
  * crc32c-framed, at the shard's start or end.
  */
final case class ShardMeta(
    innerShape: Seq[Int],
    innerBigEndian: Boolean,
    innerCompressor: Option[(String, Int)],
    indexAtEnd: Boolean,
    indexCrc32c: Boolean)

/** Real Zarr v2 interop: opens an actual `.zgroup`/`.zarray`/`.zattrs`
  * tree — the reference's PRIMARY input format, which it reads through
  * the Zarr/fsspec abstraction (reference xarray_sql/reader.py:192-337;
  * README.md:96-105 registers cloud Zarr stores directly) — and serves
  * it through the [[GridStore]] trait, so everything downstream
  * (zone-map pruning, projection-to-storage pushdown, exact stats,
  * lazy DSv2 planning) works unchanged on the reference's own data.
  *
  * Layout understood (zarr-specs v2, a public format):
  *
  * {{{
  * <root>/.zgroup                  # {"zarr_format": 2}
  * <root>/.zattrs                  # optional dataset attributes
  * <root>/<array>/.zarray          # shape/chunks/dtype/compressor/...
  * <root>/<array>/.zattrs          # _ARRAY_DIMENSIONS + attributes
  * <root>/<array>/<i>.<j>...       # C-order chunk files ("." or "/"
  *                                 # separated per dimension_separator)
  * }}}
  *
  * Supported: dtypes `<`/`>`/`|` f2 f4 f8 i1 i2 i4 i8 u1 u2 u4 (both
  * endiannesses; packed small ints widen to int/long, halves to
  * float); compressors
  * `null`, `zlib`, `gzip`, `zstd`, and `blosc` — the zarr-python default
  * that real archives (ARCO-ERA5 among them) actually use — via the
  * pure-JVM [[Blosc]] container codec (inner lz4/lz4hc/zstd/zlib/snappy
  * from Spark's bundled libraries, plus the pure-JVM [[BloscLz]];
  * byte- and bit-shuffle); C and F order (F decodes through the
  * stored-axis permutation); numcodecs `shuffle`, `delta` and
  * `vlen-utf8` (`|O` string arrays) filters; missing chunk
  * files read as `fill_value`; edge chunks stored PADDED to the full
  * chunk shape (the v2 rule, which [[ChunkAssembly]] relies on). CF
  * time axes decode through the same
  * two-tier [[graft.time.CfCalendar]] bridge as every other source:
  * Gregorian-like `units`/`calendar` attributes become real timestamps,
  * non-Gregorian calendars keep int64 offsets with the metadata that
  * auto-registers `cftime`; bare duration units ("microseconds", no
  * "since") become day-time intervals. A dimension without a coordinate
  * array gets positional integer coordinates, as xarray does.
  *
  * All byte I/O goes through [[GridIO]] (Hadoop FileSystem API), so the
  * same code path opens local trees, HDFS, S3A and GCS — at 100 TB the
  * tree is object storage and chunk reads happen only on executors,
  * only for unpruned, projected arrays.
  */
final case class ZarrGridStore(root: String, schema: GridSchema,
    arrays: Map[String, ZarrArrayMeta],
    hconf: SerializableHadoopConf = GridIO.shippable(),
    /** Per-chunk (min,max) / sums recorded by THIS engine's writers in
      * the `.graft-stats.json` sidecar (keys `"<var> <ci.dotted>"`,
      * the [[ChunkStats]] law), loaded lazily per variable
      * under format v2 ([[StatsSource]]). Parquet-footer rules apply:
      * the sidecar is part of the written format — rewriting chunk
      * files by hand without dropping it is corruption. Foreign trees
      * have no sidecar and simply serve no bounds.
      */
    statsSource: StatsSource = StatsSource.Empty) extends GridStore {

  /** Eager views for tests/inspection — forces every stats file. */
  def stats: Map[String, (Any, Any)] = statsSource.allBounds
  def sums: Map[String, Double] = statsSource.allSums

  /** Chunk key for `block` when it aligns with `name`'s own storage
    * grid (the blocks the DSv2 scan plans), else None. For sharded
    * arrays the grid is the INNER chunk grid — the writer records
    * per-inner-chunk entries with global inner keys to match.
    */
  private def alignedKey(name: String,
      block: Seq[(Int, Int)]): Option[String] = {
    val a = arrays.getOrElse(name, return None)
    if (ZarrGridStore.scaledVar(a)) return None
    val chunkSz = a.effectiveChunk
    val aligned = block.indices.forall { i =>
      val (start, len) = block(i)
      start % chunkSz(i) == 0 && len <= chunkSz(i) &&
        (len == chunkSz(i) || start + len == a.shape(i))
    }
    if (!aligned) None
    else Some(
      s"$name ${block.zip(chunkSz).map(b => b._1._1 / b._2).mkString(".")}")
  }

  override def varBounds(name: String,
      block: Seq[(Int, Int)]): Option[(Any, Any)] =
    alignedKey(name, block).flatMap(statsSource.bounds)

  override def varSums(name: String,
      block: Seq[(Int, Int)]): Option[Double] =
    alignedKey(name, block).flatMap(statsSource.sum)

  /** Per-dim chunk sizes of the DATA variables (what registration
    * partitions the scan by). Coordinate arrays may chunk differently;
    * they are read eagerly at open and never partition anything. For
    * sharded v3 arrays this is the INNER chunk grid ([[ZarrArrayMeta
    * .effectiveChunk]]): partitions stay inner-chunk-sized (and zone
    * maps inner-chunk-tight) no matter how large the shard files are.
    */
  def chunkMap: Map[String, Int] = {
    val dataVars = schema.vars.map(v => arrays(v.name))
    dataVars.flatMap(a => a.dims.zip(a.effectiveChunk)).groupBy(_._1)
      .map { case (d, sizes) => d -> sizes.head._2 }
  }

  def readVar(name: String, ranges: Seq[(Int, Int)]): AnyRef = {
    val a = arrays.getOrElse(name,
      throw new IllegalArgumentException(s"unknown var $name"))
    ZarrGridStore.applyMaskScale(a,
      ZarrGridStore.readRanges(root, a, ranges, hconf.value))
  }
}

object ZarrGridStore {

  // ---- open ----------------------------------------------------------

  /** Open an existing Zarr v2 tree (driver-side Hadoop conf). */
  def open(root: String): ZarrGridStore =
    open(root, new SerializableHadoopConf(GridIO.driverConf()))

  /** Opening prefers consolidated metadata (`<root>/.zmetadata`, the
    * standard cloud-opening path — xarray's `open_zarr(...,
    * consolidated=True)`): ALL array/group metadata arrives in ONE read
    * instead of a directory listing plus two round trips per array —
    * at ARCO-ERA5's ~273 arrays that is hundreds of object-store
    * requests saved before the first chunk is touched. Falls back to
    * the per-array listing walk when `.zmetadata` is absent.
    */
  def open(root: String, hconf: SerializableHadoopConf): ZarrGridStore = {
    val conf = hconf.value
    val cleanRoot = root.stripSuffix("/")
    val consolidatedPath = s"$cleanRoot/.zmetadata"
    if (GridIO.exists(consolidatedPath, conf)) {
      val node = parseJson(GridIO.readAllBytes(consolidatedPath, conf))
      require(node.path("zarr_consolidated_format").asInt(0) == 1,
        s"unsupported zarr_consolidated_format " +
          s"${node.path("zarr_consolidated_format")}")
      val meta = node.path("metadata")
      require(meta.isObject, s"$consolidatedPath: no metadata object")
      require(meta.path(".zgroup").path("zarr_format").asInt(0) == 2,
        s"unsupported zarr_format in consolidated .zgroup")
      val allArrays = meta.properties().asScala.map(_.getKey)
        .filter(_.endsWith("/.zarray")).map(_.stripSuffix("/.zarray"))
        .toSeq.sorted
      // hierarchical trees: nested keys belong to SUBGROUPS (each a
      // full zarr root of its own — open it by path or via the
      // provider's `group` option); the root dataset is the root-level
      // arrays, exactly xarray's open_zarr(root) reading
      val (nested, arrayNames) = allArrays.partition(_.contains("/"))
      if (arrayNames.isEmpty) {
        val groups = nested.map(_.takeWhile(_ != '/')).distinct.sorted
        throw new IllegalArgumentException(
          s"no arrays at the root of $cleanRoot" + (if (groups.nonEmpty)
            s"; tree has subgroups (${groups.mkString(", ")}) — open " +
              "one via .option(\"group\", <name>) or the subgroup path"
          else ""))
      }
      val metas = arrayNames.map { n =>
        n -> parseArrayNode(n, meta.get(s"$n/.zarray"),
          Option(meta.get(s"$n/.zattrs")))
      }.toMap
      val dsAttrs = Option(meta.get(".zattrs")).map(attrMap)
        .getOrElse(Map.empty[String, String])
      assemble(cleanRoot, metas, dsAttrs, hconf)
    } else if (GridIO.exists(s"$cleanRoot/zarr.json", conf)) {
      // a v3 tree (zarr.json root metadata) — same GridStore surface
      ZarrV3.open(cleanRoot, hconf)
    } else openListed(cleanRoot, hconf)
  }

  /** Names of the DIRECT subgroups of a zarr root (v2 `.zgroup`
    * children; v3 children whose `zarr.json` is a group node) —
    * hierarchy discovery for multi-dataset registration.
    */
  def subgroups(root: String): Seq[String] = {
    val conf = GridIO.driverConf()
    val cleanRoot = root.stripSuffix("/")
    GridIO.listNames(cleanRoot, conf).filterNot(_.startsWith("."))
      .filter { n =>
        GridIO.exists(s"$cleanRoot/$n/.zgroup", conf) ||
          (GridIO.exists(s"$cleanRoot/$n/zarr.json", conf) &&
            parseJson(GridIO.readAllBytes(s"$cleanRoot/$n/zarr.json", conf))
              .path("node_type").asText("") == "group")
      }.sorted
  }

  /** Open `root` when it holds a root-level dataset; None when its
    * arrays all live in subgroups (a pure hierarchy node). Any other
    * failure — corrupt metadata, unsupported layout — propagates.
    */
  def openDataset(root: String): Option[ZarrGridStore] =
    try Some(open(root))
    catch {
      case e: IllegalArgumentException
        if e.getMessage != null && (e.getMessage.contains("no arrays") ||
          e.getMessage.contains("no data variables")) => None
    }

  /** The unconsolidated path: directory listing + per-array metadata
    * round trips.
    */
  private def openListed(cleanRoot: String,
      hconf: SerializableHadoopConf): ZarrGridStore = {
    val conf = hconf.value
    require(GridIO.exists(s"$cleanRoot/.zgroup", conf),
      s"not a Zarr v2 group: $cleanRoot/.zgroup missing")
    val group = parseJson(GridIO.readAllBytes(s"$cleanRoot/.zgroup", conf))
    require(group.path("zarr_format").asInt(0) == 2,
      s"unsupported zarr_format ${group.path("zarr_format")}")
    val children = GridIO.listNames(cleanRoot, conf).sorted
    val arrayNames = children.filter(n =>
      GridIO.exists(s"$cleanRoot/$n/.zarray", conf))
    if (arrayNames.isEmpty) {
      // a hierarchical tree's children are subgroups (.zgroup, no
      // .zarray): name them instead of a blind "no arrays"
      val subgroups = children.filter(n =>
        GridIO.exists(s"$cleanRoot/$n/.zgroup", conf))
      throw new IllegalArgumentException(
        s"no arrays under $cleanRoot" + (if (subgroups.nonEmpty)
          s"; tree has subgroups (${subgroups.mkString(", ")}) — open " +
            "one via .option(\"group\", <name>) or the subgroup path"
        else ""))
    }
    val metas = arrayNames.map(n => n -> parseArray(cleanRoot, n, conf)).toMap
    val dsAttrs =
      if (!GridIO.exists(s"$cleanRoot/.zattrs", conf)) Map.empty[String, String]
      else attrMap(parseJson(GridIO.readAllBytes(s"$cleanRoot/.zattrs", conf)))
    assemble(cleanRoot, metas, dsAttrs, hconf)
  }

  /** Shared tail of both open paths: schema assembly + invariants from
    * the parsed per-array metadata.
    */
  private[grid] def assemble(cleanRoot: String, metas: Map[String, ZarrArrayMeta],
      dsAttrs: Map[String, String],
      hconf: SerializableHadoopConf): ZarrGridStore = {
    val conf = hconf.value
    // dims: named by _ARRAY_DIMENSIONS; sizes must agree across arrays
    val dimSizes = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    metas.values.toSeq.sortBy(_.name).foreach { a =>
      a.dims.zip(a.shape).foreach { case (d, n) =>
        dimSizes.get(d) match {
          case Some(prev) => require(prev == n,
            s"dim $d has size $n in ${a.name} but $prev elsewhere")
          case None => dimSizes += d -> n
        }
      }
    }

    // coordinate arrays: 1-D arrays named after their own dimension
    // (the xarray convention); everything else is a data variable
    val (coordArrs, dataArrs) = metas.values.partition(a =>
      a.nd == 1 && a.dims == Seq(a.name))
    require(dataArrs.nonEmpty, s"no data variables under $cleanRoot")

    // dim order: first appearance across data variables (name-sorted
    // for determinism), then any coordinate-only dims
    val dimOrder = (dataArrs.toSeq.sortBy(_.name).flatMap(_.dims) ++
      dimSizes.keys).distinct
    val coordByName = coordArrs.map(a => a.name -> a).toMap
    val dims = dimOrder.map { d =>
      buildDim(cleanRoot, d, dimSizes(d), coordByName.get(d), conf)
    }

    // CF-encoded time DATA variables (xarray to_zarr writes time-kind
    // data vars as int offsets + units/calendar attrs; its decode_cf
    // reverses them — same bridge coords take in buildDim). The metas
    // map must carry the REWRITTEN entries so the chunk decode sees
    // the CF storage. Bare-duration decoding ("seconds" -> interval)
    // mirrors xarray's decode_timedelta default and is gated by the
    // same-named switch: xarray is deprecating the inference for its
    // false positives (an elapsed-seconds counter is not a timedelta),
    // so a session can turn it off without losing "since"-style time.
    val decodeTd = conf.getBoolean(DecodeTimedeltaKey, true)
    val metas2 = metas.map { case (n, a) =>
      n -> (if (a.nd == 1 && a.dims == Seq(a.name)) a
            else cfTimeVar(a, decodeTd))
    }
    val dataArrs2 = dataArrs.map(a => metas2(a.name))

    val vars = dataArrs2.toSeq.sortBy(_.name).map { a =>
      require(a.dtype != GString || a.stored.contains(StoredVlenStr),
        s"string data variables must be vlen-utf8 encoded (${a.name})")
      if (scaledVar(a))
        // mask_and_scale: surfaces as DOUBLE; the applied encoding
        // attrs are stripped (xarray decode_cf does the same)
        VarDef(a.name, a.dims, GDouble,
          a.attrs -- Seq("scale_factor", "add_offset", "_FillValue"))
      else VarDef(a.name, a.dims, a.dtype, a.attrs)
    }

    // per-dim data chunk sizes must be consistent across data vars —
    // the scan partitions on one (effective) chunk grid
    dataArrs.toSeq.sortBy(_.name).flatMap(a => a.dims.zip(a.effectiveChunk))
      .groupBy(_._1).foreach { case (d, sizes) =>
        require(sizes.map(_._2).distinct.size == 1,
          s"data variables disagree on chunk size of dim $d: " +
            sizes.map(_._2).distinct.mkString(","))
      }

    ZarrGridStore(cleanRoot, GridSchema(dims, vars, dsAttrs), metas2, hconf,
      statsSource = readStatsManifest(cleanRoot, hconf))
  }

  /** Per-INNER-chunk stats of one scattered outer shard: `arr` is the
    * flat C-order EFFECTIVE cells of outer chunk `outerCi` (shape
    * `eff`, clipped at the array extent), `inner` the shard's inner
    * chunk shape. Returns one sidecar entry per intersecting inner
    * chunk, keyed on the GLOBAL inner grid — exactly the blocks the
    * scan plans sharded arrays on, so shard trees prune and
    * metadata-aggregate at the same granularity they read.
    */
  private[grid] def innerChunkStats(arr: AnyRef, eff: Array[Int],
      outerCi: Array[Int], chunkSz: Seq[Int], inner: Seq[Int])
      : Seq[(String, Option[(Any, Any)], Option[Double])] = {
    arr match {
      case _: Array[String] => return Nil // vlen: no numeric stats
      case _ => ()
    }
    val nd = eff.length
    val effStrides = ChunkAssembly.strides(eff)
    val perDim = Array.tabulate(nd)(d =>
      (eff(d) + inner(d) - 1) / inner(d)) // intersecting inner chunks
    val innersPerOuter = Array.tabulate(nd)(d => chunkSz(d) / inner(d))
    val nInner = perDim.product
    val out = Seq.newBuilder[(String, Option[(Any, Any)], Option[Double])]
    val pos = new Array[Int](nd)
    var k = 0
    while (k < nInner) {
      var rest = k
      var d = nd - 1
      while (d >= 0) { pos(d) = rest % perDim(d); rest /= perDim(d); d -= 1 }
      val start = Array.tabulate(nd)(d => pos(d) * inner(d))
      val len = Array.tabulate(nd)(d =>
        math.min(inner(d), eff(d) - start(d)))
      val cells = len.product
      // gather the box into a dense slice (runs of the last dim)
      val slice = java.lang.reflect.Array.newInstance(
        arr.getClass.getComponentType, cells)
      val run = len(nd - 1)
      val nRuns = cells / run
      // strides of the leading dims' run counter (C-order over
      // len(0..nd-2): last leading dim varies fastest)
      val leadStrides = ChunkAssembly.strides(
        if (nd == 1) Array(1) else len.init)
      var r = 0
      while (r < nRuns) {
        var srcOff = start(nd - 1)
        var rem = r
        var j = 0
        while (j < nd - 1) {
          val lj = rem / leadStrides(j)
          rem %= leadStrides(j)
          srcOff += (start(j) + lj) * effStrides(j)
          j += 1
        }
        System.arraycopy(arr, srcOff, slice, r * run, run)
        r += 1
      }
      val key = (0 until nd).map(d =>
        outerCi(d) * innersPerOuter(d) + pos(d)).mkString(".")
      out += ((key, ChunkStats.chunkStats(slice),
        ChunkStats.chunkSum(slice)))
      k += 1
    }
    out.result()
  }

  /** Sidecar carrying per-chunk value stats for zarr trees — the same
    * (min,max)/sum law [[ChunkStats]] defines, keyed
    * `"<var> <ci.dotted>"`. zarr-python ignores unknown files, so the
    * tree stays a perfectly ordinary zarr archive. Absent on foreign
    * trees (no stats, no pruning — always sound).
    *
    * Format v2: the ROOT file of this name is a manifest
    * (`{"version":2,"vars":[...],"fp":{...}}`) and each listed
    * variable carries its own `<var>/.graft-stats.json` — a 100 TB
    * tree's stats are no longer one GB-scale driver read
    * ([[StatsSource]]). The `fp` object records each per-var file's
    * content fingerprint so readers validate the exact bytes they
    * serve against the manifest they opened (no staleness window). A
    * variable whose entry list alone exceeds [[StatsShardEntriesKey]]
    * (the skew-heavy one-dominant-variable tree) writes per-var format
    * v3 instead: its file becomes a shard directory over leading-
    * chunk-index ranges, each range a separate fingerprinted file
    * loaded only when pruning touches it. v1 single-file sidecars
    * remain readable. Writers order commits so a crash can only LOSE
    * stats, never serve stale bounds: the manifest deletes before any
    * chunk moves and rewrites LAST, and readers consult per-var files
    * only through the manifest.
    */
  private[grid] val StatsSidecar = ".graft-stats.json"

  /** `kind` tag per dtype, mirroring [[ChunkStats.chunkStats]] boxing:
    * long-kind arrays carry (Long, Long) (exact past 2^53), everything
    * else (Double, Double).
    */
  private def statsKind(dtype: GridType): String = dtype match {
    case GLong | GTimestamp | GDuration => "long"
    case GString => "string" // UTF-8 binary order (Utf8Order)
    case _ => "double"
  }

  /** Content fingerprint of a stats file — the bytes-served staleness
    * guard (StatsSource.LazyPerVar): truncated SHA-256, hex. Purely
    * content-derived so the append-equals-one-shot byte identity of
    * the sidecar tree is preserved (a random token would break it) and
    * a retried byte-identical rewrite correctly still validates.
    */
  private[grid] def statsFp(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
      .take(8).map(b => f"$b%02x").mkString

  /** Entry-count threshold above which one variable's stats split into
    * leading-chunk-index range shards (per-var format v3). The v2
    * per-var split already keeps a 300-variable archive from paying
    * one giant read, but a SKEW-HEAVY tree — one dominant 100 TB data
    * variable plus tiny coords — concentrates everything back into one
    * file; v3 bounds any single stats read by this many entries
    * (~40 B/entry of JSON, so the default keeps files a few MB).
    */
  val StatsShardEntriesKey = "graft.zarr.stats.shardEntries"
  private val DefaultStatsShardEntries = 65536

  /** One variable's v2-format stats CONTENT (also the per-shard file
    * body under v3). Entries sorted by chunk key — scatter results
    * arrive in executor map order and the bytes must be deterministic
    * (the append byte-identity property pins it).
    */
  private def varStatsJson(v: VarDef,
      es: Seq[(String, Option[(Any, Any)], Option[Double])]): String = {
    val mapper = new ObjectMapper()
    val vn = mapper.createObjectNode()
    vn.put("version", 2)
    vn.put("kind", statsKind(v.dtype))
    val st = vn.putObject("stats")
    val su = vn.putObject("sums")
    es.foreach { case (ci, mm, sm) =>
      mm.foreach { case (mn, mx) =>
        val arr = st.putArray(ci)
        Seq(mn, mx).foreach {
          case l: Long => arr.add(l)
          case d: Double => arr.add(d)
          case s: String => arr.add(s)
          case other => throw new IllegalStateException(
            s"${v.name}: unexpected stats box ${other.getClass}")
        }
      }
      sm.foreach(s => su.put(ci, s))
    }
    mapper.writeValueAsString(vn)
  }

  /** Write one variable's stats from its (key, bounds, sum) entries;
    * deletes stale files when there is nothing to record. Small entry
    * lists write the single v2 per-var file; lists over
    * [[StatsShardEntriesKey]] split by leading chunk index into range
    * shard files plus a v3 shard directory, so a reader pruning a
    * range of a skew-heavy variable reads O(touched shards), not the
    * whole list. Shard packing is a pure function of the entry set
    * (numeric-sorted leading-index groups, greedily packed), so a
    * merge rewrite stays byte-identical to a one-shot write. Returns
    * the written per-var file's content fingerprint, or None when no
    * file exists for the variable.
    */
  private[grid] def writeVarStats(root: String, v: VarDef,
      entries: Seq[(String, Option[(Any, Any)], Option[Double])],
      conf: org.apache.hadoop.conf.Configuration,
      preserved: Seq[StatsSource.ShardRef] = Seq.empty)
      : Option[String] = {
    val p = s"$root/${v.name}/$StatsSidecar"
    val es = entries.flatMap { case (key, mm, sm) =>
      key.split(" ", 2) match {
        case Array(nm, ci) if nm == v.name &&
          (mm.isDefined || sm.isDefined) => Some((ci, mm, sm))
        case _ => None
      }
    }.sortBy(_._1)
    // suffix-merge contract (mergeStatsSidecar): `preserved` prefix
    // shards stay on disk UNREAD and re-enter the manifest verbatim;
    // `entries` covers only the repacked suffix, whose greedy packing
    // is independent of the prefix (packing restarts at each shard
    // boundary), so the result is byte-identical to a full one-shot
    // write of prefix+suffix. The caller guarantees the combined
    // entry count exceeds the shard threshold when preserved is
    // non-empty.
    require(preserved.isEmpty || es.nonEmpty,
      s"${v.name}: preserved prefix with empty suffix")
    // a previous v3 write's shard layout, (file -> fp): shard files
    // must not outlive a rewrite that shards differently (or not at
    // all) — the no-longer-referenced ones delete LAST (after the new
    // per-var file is in place, so a crash window can only lose
    // stats) — and a rewrite producing a byte-identical shard (same
    // name, same fingerprint) SKIPS the write: greedy packing is a
    // pure function of the entry set, so an append touching only the
    // tail leaves every prefix shard's (lo, hi, bytes) unchanged and
    // the merge pays O(touched-suffix) shard writes, not O(var)
    val oldShards: Map[String, String] =
      try {
        val node = parseJson(GridIO.readAllBytes(p, conf))
        if (node.path("version").asInt(0) == 3)
          node.path("shards").elements().asScala
            .map(s => s.path("file").asText() -> s.path("fp").asText())
            .toMap
        else Map.empty
      } catch { case scala.util.control.NonFatal(_) => Map.empty }
    if (es.isEmpty) {
      GridIO.delete(p, conf)
      oldShards.keys.foreach(f => GridIO.delete(s"$root/${v.name}/$f", conf))
      return None
    }
    val threshold = conf.getInt(StatsShardEntriesKey,
      DefaultStatsShardEntries)
    val (json, newShards) =
      if (preserved.isEmpty && es.size <= threshold)
        (varStatsJson(v, es), Seq.empty[String])
      else {
        // group by leading chunk index (groups stay whole so a range
        // lookup is unambiguous; one index's group exceeding the
        // threshold just yields one oversized shard), pack greedily
        val groups = es.groupBy(_._1.takeWhile(_ != '.').toLong)
          .toSeq.sortBy(_._1)
        val shards = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Seq[(String, Option[(Any, Any)],
            Option[Double])])]
        groups.foreach { case (lead, ges) =>
          shards.lastOption match {
            case Some((lo, _, acc))
                if acc.size + ges.size <= threshold =>
              shards(shards.length - 1) = (lo, lead, acc ++ ges)
            case _ => shards += ((lead, lead, ges))
          }
        }
        val mapper = new ObjectMapper()
        val top = mapper.createObjectNode()
        top.put("version", 3)
        top.put("kind", statsKind(v.dtype))
        val arr = top.putArray("shards")
        // preserved prefix re-enters the manifest verbatim, unread
        preserved.foreach { s =>
          val e = arr.addObject()
          e.put("lo", s.lo)
          e.put("hi", s.hi)
          e.put("file", s.file)
          e.put("fp", s.fp)
          e.put("n", s.n)
        }
        val files = shards.map { case (lo, hi, ses) =>
          val file = f".graft-stats.$lo%012d-$hi%012d.json"
          val body = varStatsJson(v, ses.sortBy(_._1))
          val fp = statsFp(body.getBytes(
            java.nio.charset.StandardCharsets.UTF_8))
          // byte-identical shard already on disk: skip the PUT
          if (!oldShards.get(file).contains(fp))
            GridIO.writeString(s"$root/${v.name}/$file", body, conf)
          val e = arr.addObject()
          e.put("lo", lo)
          e.put("hi", hi)
          e.put("file", file)
          e.put("fp", fp)
          e.put("n", ses.size.toLong)
          file
        }
        (mapper.writeValueAsString(top),
          preserved.map(_.file) ++ files.toSeq)
      }
    GridIO.writeString(p, json, conf)
    oldShards.keysIterator.filterNot(newShards.toSet).foreach(f =>
      GridIO.delete(s"$root/${v.name}/$f", conf))
    Some(statsFp(json.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
  }

  /** Root manifest (format v2) — written LAST so readers never consult
    * a per-var file the writer has not finished. `vars` carries each
    * variable's per-var-file fingerprint where known (None only for
    * entries carried forward from a pre-fp manifest by a merge);
    * readers use it as the bytes-served staleness guard.
    */
  private[grid] def writeStatsManifest(root: String,
      vars: Seq[(String, Option[String])],
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    if (vars.isEmpty) { GridIO.delete(s"$root/$StatsSidecar", conf); return }
    val mapper = new ObjectMapper()
    val top = mapper.createObjectNode()
    top.put("version", 2)
    val sorted = vars.sortBy(_._1)
    val arr = top.putArray("vars")
    sorted.foreach(v => arr.add(v._1))
    if (sorted.exists(_._2.isDefined)) {
      val fo = top.putObject("fp")
      sorted.foreach { case (n, fp) => fp.foreach(fo.put(n, _)) }
    }
    GridIO.writeString(s"$root/$StatsSidecar",
      mapper.writeValueAsString(top), conf)
  }

  /** Full-tree stats write (one-shot writers): per-var files for every
    * variable with entries, stale files dropped for those without,
    * manifest last. Entries group by variable ONCE — handing the full
    * list to every per-var write would rescan E entries V times, a
    * real driver cost at the 10⁸-entry scale format v2 targets.
    */
  private[grid] def writeStatsSidecar(root: String, schema: GridSchema,
      entries: Seq[(String, Option[(Any, Any)], Option[Double])],
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    val byVar = entries.groupBy(_._1.split(" ", 2)(0))
    val withFiles = schema.vars.flatMap(v =>
      writeVarStats(root, v, byVar.getOrElse(v.name, Seq.empty), conf)
        .map(fp => v.name -> Option(fp)))
    writeStatsManifest(root, withFiles, conf)
  }

  /** Open-time stats resolution: the root sidecar is either a v1
    * full-content file (parsed eagerly) or a v2 manifest (per-var files
    * load lazily on first touch). Stats are an optimization — any
    * corrupt or future-versioned sidecar degrades to "no stats" with a
    * warning instead of bricking an otherwise-valid tree.
    */
  private[grid] def readStatsManifest(root: String,
      hconf: SerializableHadoopConf): StatsSource = {
    val conf = hconf.value
    val p = s"$root/$StatsSidecar"
    val raw =
      try Some(GridIO.readAllBytes(p, conf))
      catch { case _: java.io.FileNotFoundException => None }
    raw match {
      case None => StatsSource.Empty
      case Some(bytes) =>
        try {
          val node = parseJson(bytes)
          node.path("version").asInt(0) match {
            case 1 =>
              var stats = Map.empty[String, (Any, Any)]
              var sums = Map.empty[String, Double]
              node.path("vars").properties().asScala.foreach { e =>
                val (st, su) =
                  StatsSource.parseVarStats(e.getKey, e.getValue)
                stats ++= st; sums ++= su
              }
              StatsSource.Eager(stats, sums)
            case 2 =>
              val vars = node.path("vars").elements().asScala
                .map(_.asText()).toSet
              // per-var content fingerprints (bytes-served staleness
              // guard); absent on pre-fp manifests, which fall back to
              // the open-time (length, mtime) key — see LazyPerVar
              val fpNode = node.path("fp")
              val fps =
                if (!fpNode.isObject) Map.empty[String, String]
                else fpNode.properties().asScala
                  .map(e => e.getKey -> e.getValue.asText()).toMap
              new StatsSource.LazyPerVar(root, vars, hconf,
                GridIO.statusOf(p, conf), fps)
            case v =>
              statsWarn(s"$p: unsupported stats sidecar version $v — " +
                "ignoring (no pruning bounds served)")
              StatsSource.Empty
          }
        } catch {
          case scala.util.control.NonFatal(e) =>
            statsWarn(s"$p: unreadable stats sidecar " +
              s"(${e.getMessage}) — ignoring (no pruning bounds served)")
            StatsSource.Empty
        }
    }
  }

  private def statsWarn(msg: String): Unit =
    org.slf4j.LoggerFactory.getLogger(ZarrGridStore.getClass).warn(msg)

  /** Rewrite one DATA array's meta when it is CF-encoded time: int
    * offsets + `units` attr ("<step> since <date>" under a
    * Gregorian-like calendar -> timestamps; a bare duration step ->
    * durations; 360_day/julian keep raw ints, exactly like coords).
    * `_FillValue` becomes the NaT (SQL NULL) marker. Scaled or
    * already-packed layouts are left alone.
    */
  /** Hadoop-conf switch (default true) mirroring xarray's
    * `decode_timedelta`: when false, int data variables and coordinate
    * arrays whose `units` is a bare duration word stay raw ints
    * instead of becoming day-time intervals. "since"-style datetime
    * decoding is unaffected. Set via
    * `spark.hadoop.graft.zarr.decodeTimedelta=false` (session-wide).
    */
  val DecodeTimedeltaKey = "graft.zarr.decodeTimedelta"

  private def cfTimeVar(a: ZarrArrayMeta,
      decodeTimedelta: Boolean): ZarrArrayMeta = {
    if (scaledVar(a) || a.stored.isDefined) return a
    if (a.dtype != GInt && a.dtype != GLong) return a
    val w = if (a.dtype == GLong) 8 else 4
    // "null" = a JSON null attribute (attrMap stringifies it): no fill
    def fillOf: Option[Long] =
      a.attrs.get("_FillValue").filterNot(_ == "null").map { s =>
        s.toLongOption.getOrElse {
          // float spelling of an integral fill ("-999.0"); reject
          // NaN/fractional instead of silently masking a wrong value
          val d = s.toDouble
          require(!d.isNaN && !d.isInfinite && d == d.floor,
            s"${a.name}: non-integral _FillValue '$s'")
          d.toLong
        }
      }
    // any undecodable encoding — "months since" (no fixed µs law),
    // "days since launch" (unparseable reference), unknown calendar,
    // garbage fill — keeps the variable as RAW INT OFFSETS instead of
    // failing open() or exploding later at chunk-read time: xarray's
    // decode_cf fallback behavior, and what this engine did before
    // CF data-var decoding existed
    try a.attrs.get("units") match {
      case Some(u) if u.contains(" since ") =>
        val cal = a.attrs.getOrElse("calendar", "standard")
        if (graft.time.CfCalendar.classify(cal) !=
            graft.time.CfCalendar.GregorianLike) a
        else {
          graft.time.CfCalendar.parseUnits(u).stepsPerDay // validates
          a.copy(dtype = GTimestamp,
            stored = Some(StoredCfTime(w, u, cal, fillOf)),
            attrs = a.attrs -- Seq("units", "calendar", "_FillValue"))
        }
      case Some(u) if durationMicros.contains(u) && decodeTimedelta =>
        a.copy(dtype = GDuration,
          stored = Some(StoredCfTime(w, u, "standard", fillOf)),
          attrs = a.attrs -- Seq("units", "_FillValue"))
      case _ => a
    } catch {
      case _: IllegalArgumentException | _: NumberFormatException => a
    }
  }

  /** One dimension: decode its coordinate array (eager — coords are
    * metadata-sized) through the CF time bridge, or synthesize the
    * positional index when no coordinate array exists.
    */
  /** Coordinate arrays are row identity: a NaT label would make its
    * whole hyperplane unaddressable, so it fails here; NaT in DATA
    * variables flows through as SQL NULL instead (GridSource).
    */
  private def rejectNaT(name: String, raw: AnyRef): Unit = raw match {
    case v: Array[Long] =>
      require(!v.contains(Long.MinValue),
        s"$name: NaT (not-a-time) in a coordinate array — axis labels " +
          "must be total")
    case _ => ()
  }

  private def buildDim(root: String, name: String, size: Int,
      coord: Option[ZarrArrayMeta],
      conf: org.apache.hadoop.conf.Configuration): DimDef = coord match {
    case None => DimDef(name, IntCoords((0 until size).toArray))
    case Some(a) =>
      val raw = readRanges(root, a, Seq((0, size)), conf)
      val units = a.attrs.get("units")
      val calendar = a.attrs.get("calendar")
      val rest = a.attrs -- Seq("units", "calendar")
      val intKind = a.dtype == GInt || a.dtype == GLong
      (units, raw) match {
        // CF time axis: "<step> since <date>" + int offsets
        case (Some(u), _) if intKind && u.contains(" since ") =>
          require(!scaledVar(a),
            s"$name: scaled CF time coordinates unsupported " +
              "(scale_factor/add_offset on a time axis)")
          val offsets = raw match {
            case v: Array[Int] => v.map(_.toLong)
            case v: Array[Long] => v
          }
          val cal = calendar.getOrElse("standard")
          graft.time.CfCalendar.classify(cal) match {
            case graft.time.CfCalendar.GregorianLike =>
              DimDef(name, TimeCoords(offsets.map(
                  graft.time.CfCalendar.offsetToMicros(_, u, cal))),
                calendar = Some(cal), units = Some(u), attrs = rest)
            case graft.time.CfCalendar.NonGregorian =>
              DimDef(name, LongCoords(offsets),
                calendar = Some(cal), units = Some(u), attrs = rest)
          }
        // bare duration units (timedelta axis — no "since"); same
        // decode_timedelta gate as data variables
        case (Some(u), _) if intKind && durationMicros.contains(u) &&
            conf.getBoolean(DecodeTimedeltaKey, true) =>
          require(!scaledVar(a),
            s"$name: scaled duration coordinates unsupported")
          val offsets = raw match {
            case v: Array[Int] => v.map(_.toLong)
            case v: Array[Long] => v
          }
          DimDef(name,
            DurationCoords(offsets.map(_ * durationMicros(u))),
            attrs = rest)
        // raw numpy time dtypes (<M8[...]/<m8[...]): the decode already
        // produced µs, so the axis surfaces exactly like a CF one; the
        // writer's standard CF attrs are attached so a round trip
        // re-emits a readable (int64 + units) encoding
        case _ if a.dtype == GTimestamp =>
          require(!scaledVar(a),
            s"$name: scaled datetime64 coordinates unsupported")
          rejectNaT(name, raw)
          DimDef(name, TimeCoords(raw.asInstanceOf[Array[Long]]),
            calendar = Some("proleptic_gregorian"),
            units = Some("microseconds since 1970-01-01"), attrs = rest)
        case _ if a.dtype == GDuration =>
          require(!scaledVar(a),
            s"$name: scaled timedelta64 coordinates unsupported")
          rejectNaT(name, raw)
          DimDef(name, DurationCoords(raw.asInstanceOf[Array[Long]]),
            attrs = rest)
        case _ if scaledVar(a) =>
          // CF mask_and_scale on a coordinate array: decode like
          // xarray's decode_cf does (packed ints -> doubles) instead of
          // silently serving raw packed values as coordinates
          val scaled = applyMaskScale(a, raw).asInstanceOf[Array[Double]]
          DimDef(name, DoubleCoords(scaled),
            attrs = a.attrs --
              Seq("scale_factor", "add_offset", "_FillValue", "calendar"))
        case _ =>
          val coords: CoordArray = raw match {
            case v: Array[Double] => DoubleCoords(v)
            case v: Array[Float] => FloatCoords(v)
            case v: Array[Int] => IntCoords(v)
            case v: Array[Long] => LongCoords(v)
            case v: Array[String] => StringCoords(v)
          }
          DimDef(name, coords,
            attrs = a.attrs.filterNot(_._1 == "calendar"))
      }
  }

  private val durationMicros = Map(
    "microseconds" -> 1L, "milliseconds" -> 1000L, "seconds" -> 1000000L,
    "minutes" -> 60000000L, "hours" -> 3600000000L, "days" -> 86400000000L)

  // ---- chunk reads ---------------------------------------------------

  /** Gather arbitrary (start, length) ranges of one array: the shared
    * [[ChunkAssembly]] odometer with Zarr's padded-edge stored shape.
    */
  private[grid] def readRanges(root: String, a: ZarrArrayMeta,
      ranges: Seq[(Int, Int)],
      conf: org.apache.hadoop.conf.Configuration): AnyRef = {
    require(ranges.length == a.nd,
      s"${a.name}: ${ranges.length} ranges for ${a.nd}-d array")
    // fast path: the request is exactly one complete stored chunk —
    // for a sharded array that means the whole shard, where one full
    // file read beats an index fetch + per-inner-chunk range GETs
    val whole = (0 until a.nd).forall { i =>
      ranges(i)._1 % a.chunkShape(i) == 0 &&
        ranges(i)._2 == a.chunkShape(i)
    }
    if (whole)
      readChunk(root, a, (0 until a.nd).map(i => ranges(i)._1 / a.chunkShape(i)), conf)
    else a.sharding match {
      case Some(sh) =>
        // inner-chunk granularity: the shard index (a known-position
        // tail/head range of the file) tells where each inner chunk's
        // bytes live, so only intersecting inner chunks are fetched —
        // a pruned scan over a GB-shard archive reads KB-sized ranges.
        // All touched inner chunks are planned up front and BYTE-
        // ADJACENT index entries of the same shard coalesce into one
        // range GET (readInnerChunks), so a contiguous slice over a
        // shard pays ~1 request instead of one per inner chunk.
        val decoded = readInnerChunks(root, a, sh, ranges, conf)
        ChunkAssembly.gather(ranges, sh.innerShape, a.shape, a.dtype,
          decoded)
      case None =>
        ChunkAssembly.gather(ranges, a.chunkShape, a.shape, a.dtype,
          readChunk(root, a, _, conf))
    }
  }

  /** One whole stored chunk (always the FULL chunk shape — v2 pads
    * edges): file fetch, decompress, endian-decode; a missing file is
    * an entirely-fill chunk per the spec. Sharded v3 arrays route to
    * [[readShard]].
    */
  private[grid] def readChunk(root: String, a: ZarrArrayMeta, ci: Seq[Int],
      conf: org.apache.hadoop.conf.Configuration): AnyRef = {
    val n = a.chunkShape.product
    val path = s"$root/${a.name}/${a.chunkKey(ci)}"
    // one fetch, no pre-flight exists(): an extra metadata round trip
    // per chunk would double object-store request counts at scale;
    // absence is the spec'd all-fill case, not an error
    val rawOpt =
      try Some(GridIO.readAllBytes(path, conf))
      catch { case _: java.io.FileNotFoundException => None }
    if (rawOpt.isEmpty) {
      if (a.dtype == GString) Array.fill(n)(a.stringFill)
      else if (a.stored.isDefined) {
        // packed/time storage: the declared fill is in STORED units —
        // route it through the same pattern + decode as present chunks
        // (a <M8[s] fill must convert to µs; a NaT or uint64-overflow
        // fill must fail as loudly as a stored cell would)
        val w = a.storedWidth
        val pat = storedFillPattern(a, a.bigEndian)
        val bytes = new Array[Byte](n * w)
        var i = 0
        while (i < bytes.length) {
          System.arraycopy(pat, 0, bytes, i, w); i += w
        }
        decodeStored(bytes, a, a.bigEndian, n)
      } else fillArray(a.dtype, a.fillValue, n)
    } else decodeChunkPayload(path, a, rawOpt.get)
  }

  /** Decode one stored chunk file's bytes into the full (padded) chunk
    * in the array's logical element type — decompression, filter
    * pipeline, shard assembly, widening. Shared by [[readChunk]] and
    * the streaming tail (which receives the bytes from Spark's file
    * source instead of reading them itself).
    */
  private[graft] def decodeChunkPayload(path: String, a: ZarrArrayMeta,
      raw: Array[Byte]): AnyRef =
    if (a.sharding.isDefined) readShard(path, a, raw)
    else if (a.stored.contains(StoredVlenStr)) {
      // vlen-utf8: decompressed size is unknown a priori (self-framed)
      val n = a.chunkShape.product
      val decoded =
        decodeVlen(path, decompressedUnknown(path, raw, a.compressor), n)
      a.transposeOrder match {
        case Some(order) => untranspose(decoded, a.chunkShape, order)
        case None => decoded
      }
    } else {
      val n = a.chunkShape.product
      val expected = n * a.storedWidth
      val bytes = decompressed(path, raw, a.compressor, expected)
      require(bytes.length == expected,
        s"chunk $path decodes to ${bytes.length} bytes, expected $expected")
      // undo the numcodecs filter pipeline in reverse write order
      val unfiltered = a.filters.reverse.foldLeft(bytes)(
        (b, f) => defilter(path, f, b))
      val decoded = decodeStored(unfiltered, a, a.bigEndian, n)
      a.transposeOrder match {
        case Some(order) => untranspose(decoded, a.chunkShape, order)
        case None => decoded
      }
    }

  /** Undo a stored axis permutation: the flat input is C-order over the
    * PERMUTED shape (stored axis i = logical axis `order(i)`); the
    * output is C-order over the logical chunk shape. Covers the v3
    * `transpose` codec and v2 `order: "F"` (reversed axes).
    */
  private[grid] def untranspose(data: AnyRef, chunkShape: Seq[Int],
      order: Seq[Int]): AnyRef = {
    val nd = chunkShape.length
    if (order == (0 until nd)) return data
    val tShape = order.map(chunkShape).toArray
    val tStrides = ChunkAssembly.strides(tShape)
    // stored-flat stride of one step along each LOGICAL axis
    val mapStride = new Array[Int](nd)
    var i = 0
    while (i < nd) { mapStride(order(i)) = tStrides(i); i += 1 }
    val n = chunkShape.product
    val shape = chunkShape.toArray
    def gatherTo[@specialized(Double, Float, Int, Long) T](
        a: Array[T], out: Array[T]): Array[T] = {
      val pos = new Array[Int](nd)
      var src = 0
      var dst = 0
      while (dst < n) {
        out(dst) = a(src)
        // odometer over the LOGICAL shape; stored offset follows strides
        var j = nd - 1
        var carry = true
        while (carry && j >= 0) {
          pos(j) += 1
          src += mapStride(j)
          if (pos(j) < shape(j)) carry = false
          else { src -= pos(j) * mapStride(j); pos(j) = 0; j -= 1 }
        }
        dst += 1
      }
      out
    }
    data match {
      case a: Array[Double] => gatherTo(a, new Array[Double](n))
      case a: Array[Float] => gatherTo(a, new Array[Float](n))
      case a: Array[Int] => gatherTo(a, new Array[Int](n))
      case a: Array[Long] => gatherTo(a, new Array[Long](n))
      case a: Array[String] => gatherTo(a, new Array[String](n))
    }
  }

  /** Undo one numcodecs filter on the chunk byte image. Both supported
    * filters are length-preserving byte-buffer transforms.
    */
  private def defilter(path: String, f: ZarrFilter,
      bytes: Array[Byte]): Array[Byte] = f.id match {
    case "shuffle" =>
      require(bytes.length % f.elementSize == 0,
        s"$path: ${bytes.length} bytes not divisible by shuffle " +
          s"elementsize ${f.elementSize}")
      val out = new Array[Byte](bytes.length)
      Blosc.unshuffle(f.elementSize, bytes, bytes.length, out, 0)
      out
    case "delta" => undelta(path, f.dtypeStr, bytes)
    case other => throw new IllegalArgumentException(
      s"$path: unsupported filter '$other'")
  }

  /** Inverse of numcodecs Delta: cumulative sum in the element domain
    * (numpy wrap-on-overflow for ints, IEEE addition for floats),
    * in place at the byte level.
    */
  private def undelta(path: String, dtypeStr: String,
      bytes: Array[Byte]): Array[Byte] = {
    require(dtypeStr.length == 3, s"$path: bad delta dtype '$dtypeStr'")
    val order = dtypeStr.charAt(0) match {
      case '>' => ByteOrder.BIG_ENDIAN
      case _ => ByteOrder.LITTLE_ENDIAN
    }
    val bb = ByteBuffer.wrap(bytes).order(order)
    dtypeStr.substring(1) match {
      case "f8" =>
        val v = bb.asDoubleBuffer()
        var i = 1
        while (i < v.capacity()) { v.put(i, v.get(i - 1) + v.get(i)); i += 1 }
      case "f4" =>
        val v = bb.asFloatBuffer()
        var i = 1
        while (i < v.capacity()) { v.put(i, v.get(i - 1) + v.get(i)); i += 1 }
      case "i8" =>
        val v = bb.asLongBuffer()
        var i = 1
        while (i < v.capacity()) { v.put(i, v.get(i - 1) + v.get(i)); i += 1 }
      case "i4" | "u4" =>
        val v = bb.asIntBuffer()
        var i = 1
        while (i < v.capacity()) { v.put(i, v.get(i - 1) + v.get(i)); i += 1 }
      case "i2" | "u2" =>
        val v = bb.asShortBuffer()
        var i = 1
        while (i < v.capacity()) {
          v.put(i, (v.get(i - 1) + v.get(i)).toShort); i += 1
        }
      case "i1" | "u1" =>
        var i = 1
        while (i < bytes.length) {
          bytes(i) = (bytes(i - 1) + bytes(i)).toByte; i += 1
        }
      case other => throw new IllegalArgumentException(
        s"$path: unsupported delta dtype '$dtypeStr' ($other)")
    }
    bytes
  }

  /** CF mask_and_scale is applied when `scale_factor` / `add_offset`
    * attributes are present (the packed-variable convention xarray's
    * `decode_cf` handles for the reference): the variable surfaces as
    * DOUBLE with `out = stored * scale + offset` and stored values equal
    * to `_FillValue` become NaN. A `_FillValue` alone (no scaling) is
    * left as-is to keep the declared dtype stable. Scaled COORDINATE
    * arrays decode the same way in [[buildDim]] (as xarray's decode_cf
    * does), except on time/duration axes, where scaling is rejected
    * loudly.
    */
  private[grid] def scaledVar(a: ZarrArrayMeta): Boolean =
    a.attrs.contains("scale_factor") || a.attrs.contains("add_offset")

  private[graft] def applyMaskScale(a: ZarrArrayMeta, raw: AnyRef): AnyRef = {
    if (!scaledVar(a)) return raw
    val s = a.attrs.get("scale_factor").map(_.toDouble).getOrElse(1.0)
    val o = a.attrs.get("add_offset").map(_.toDouble).getOrElse(0.0)
    val fv = a.attrs.get("_FillValue").map(_.toDouble)
    def m(x: Double): Double = if (fv.contains(x)) Double.NaN else x * s + o
    raw match {
      case v: Array[Int] => v.map(x => m(x.toDouble))
      case v: Array[Long] => v.map(x => m(x.toDouble))
      case v: Array[Float] =>
        // compare the fill in the STORED dtype domain (xarray casts the
        // fill to the array dtype first): a hand-authored attribute
        // decimal that is not the shortest repr of the widened float —
        // e.g. a truncated 9.96921e+36 — must still mask its cells
        val ff = fv.map(_.toFloat)
        v.map(x =>
          if (ff.contains(x)) Double.NaN else x.toDouble * s + o)
      case v: Array[Double] => v.map(m)
      case other => throw new IllegalArgumentException(
        s"${a.name}: cannot scale ${other.getClass}")
    }
  }

  /** Bytes → the array's LOGICAL element type: plain endian decode for
    * native widths, widening decode for packed small ints.
    */
  private def decodeStored(bytes: Array[Byte], a: ZarrArrayMeta,
      bigEndian: Boolean, n: Int): AnyRef = a.stored match {
    case None => decodeTyped(bytes, a.dtype, bigEndian, n)
    case Some(StoredInt(w, signed)) =>
      val bb = ByteBuffer.wrap(bytes).order(
        if (bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
      (a.dtype, w) match {
        case (GInt, 1) =>
          val o = new Array[Int](n)
          var i = 0
          while (i < n) {
            o(i) = if (signed) bytes(i) else bytes(i) & 0xff; i += 1
          }
          o
        case (GInt, 2) =>
          val sb = bb.asShortBuffer()
          val o = new Array[Int](n)
          var i = 0
          while (i < n) {
            o(i) = if (signed) sb.get(i) else sb.get(i) & 0xffff; i += 1
          }
          o
        case (GLong, 4) => // u4 widens to long
          val ib = bb.asIntBuffer()
          val o = new Array[Long](n)
          var i = 0
          while (i < n) { o(i) = ib.get(i) & 0xffffffffL; i += 1 }
          o
        case (GLong, 8) => // u8: long-width, loud overflow past Long.Max
          val lb = bb.asLongBuffer()
          val o = new Array[Long](n)
          var i = 0
          while (i < n) {
            val v = lb.get(i)
            if (v < 0) throw new ArithmeticException(
              s"${a.name}: uint64 value ${java.lang.Long.toUnsignedString(v)} " +
                "exceeds Long.MaxValue — not representable as a SQL BIGINT")
            o(i) = v
            i += 1
          }
          o
        case other => throw new IllegalArgumentException(
          s"${a.name}: bad packed layout $other")
      }
    case Some(StoredHalf) =>
      val bb = ByteBuffer.wrap(bytes).order(
        if (bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
      val sb = bb.asShortBuffer()
      val o = new Array[Float](n)
      var i = 0
      while (i < n) { o(i) = halfToFloat(sb.get(i)); i += 1 }
      o
    case Some(StoredTime64(num, den)) =>
      // raw datetime64/timedelta64 -> epoch/duration µs. NaT
      // (Long.MinValue, numpy's missing-time marker) passes through as
      // the same sentinel: the scan surfaces it as SQL NULL for DATA
      // variables (GridSource), and buildDim rejects it on COORDINATE
      // arrays (axis labels are row identity and must be total).
      val lb = ByteBuffer.wrap(bytes).order(
        if (bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
        .asLongBuffer()
      val o = new Array[Long](n)
      var i = 0
      while (i < n) {
        val v = lb.get(i)
        // multiplyExact: an s/ms offset past the µs-representable
        // range must fail loudly, not wrap into a plausible instant.
        // floorDiv: sub-µs offsets FLOOR to µs (numpy's unit-cast
        // semantics; keeps negative ns offsets consistent with the
        // CF coordinate bridge)
        o(i) = if (v == Long.MinValue) Long.MinValue
               else Math.floorDiv(Math.multiplyExact(v, num), den)
        i += 1
      }
      o
    case Some(StoredCfTime(w, units, cal, fillRaw)) =>
      // CF int offsets -> epoch/duration µs; _FillValue -> NaT sentinel
      val bb = ByteBuffer.wrap(bytes).order(
        if (bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
      val getRaw: Int => Long =
        if (w == 8) { val lb = bb.asLongBuffer(); lb.get(_) }
        else { val ib = bb.asIntBuffer(); ib.get(_).toLong }
      val o = new Array[Long](n)
      val fl = fillRaw.getOrElse(Long.MinValue)
      if (!units.contains(" since ")) { // bare duration step
        val um = durationMicros(units)
        var i = 0
        while (i < n) {
          val v = getRaw(i)
          o(i) = if (v == fl || v == Long.MinValue) Long.MinValue
                 else Math.multiplyExact(v, um)
          i += 1
        }
      } else {
        val spd = graft.time.CfCalendar.parseUnits(units).stepsPerDay
        val linearCal = cal.toLowerCase match {
          case "noleap" | "365_day" | "all_leap" | "366_day" => false
          case _ => true // real timeline: µs is linear in the offset
        }
        if (linearCal) {
          val base = graft.time.CfCalendar.offsetToMicros(0L, units, cal)
          val MicrosPerDay = 86400000000L
          var i = 0
          if (spd >= MicrosPerDay) { // sub-µs step: FLOOR like <M8[ns]
            val den = spd / MicrosPerDay
            while (i < n) {
              val v = getRaw(i)
              o(i) = if (v == fl || v == Long.MinValue) Long.MinValue
                     else Math.addExact(Math.floorDiv(v, den), base)
              i += 1
            }
          } else {
            val num = MicrosPerDay / spd
            while (i < n) {
              val v = getRaw(i)
              o(i) = if (v == fl || v == Long.MinValue) Long.MinValue
                     else Math.addExact(Math.multiplyExact(v, num), base)
              i += 1
            }
          }
        } else { // noleap/all_leap: piecewise — per-offset bridge
          var i = 0
          while (i < n) {
            val v = getRaw(i)
            o(i) = if (v == fl || v == Long.MinValue) Long.MinValue
                   else graft.time.CfCalendar.offsetToMicros(v, units, cal)
            i += 1
          }
        }
      }
      o
    case Some(StoredVlenStr) => throw new IllegalStateException(
      "vlen strings decode via decodeVlen, not decodeStored")
    case Some(s @ StoredStr(nchars, utf32)) =>
      val w = s.width
      val bb = ByteBuffer.wrap(bytes).order(
        if (bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
      val o = new Array[String](n)
      var i = 0
      while (i < n) {
        if (utf32) {
          val sb2 = new java.lang.StringBuilder(nchars)
          var k = 0
          var done = false
          while (k < nchars && !done) {
            val cp = bb.getInt(i * w + k * 4)
            if (cp == 0) done = true // NUL padding terminates
            else sb2.appendCodePoint(cp)
            k += 1
          }
          o(i) = sb2.toString
        } else {
          var end = i * w
          val stop = i * w + nchars
          while (end < stop && bytes(end) != 0) end += 1
          o(i) = new String(bytes, i * w, end - i * w,
            java.nio.charset.StandardCharsets.UTF_8)
        }
        i += 1
      }
      o
  }

  /** binary32 -> binary16, round-to-nearest-even (used only to encode
    * fill patterns; the engine never packs data to half on write).
    */
  private[grid] def floatToHalf(f: Float): Short = {
    if (f.isNaN) return 0x7e00.toShort
    val sign = if ((java.lang.Float.floatToIntBits(f) & 0x80000000) != 0)
      0x8000 else 0
    val af = math.abs(f)
    if (af.isInfinite || af >= 65520.0f) (sign | 0x7c00).toShort
    else if (af < 6.103515625e-5f) { // below 2^-14: subnormal / zero
      val m = java.lang.Math.rint(af / 5.9604645e-8f).toInt // of 2^-24
      (sign | m).toShort // m == 1024 lands on normal 2^-14 exactly
    } else {
      val e = math.getExponent(af)
      var m = java.lang.Math.rint(
        af / math.pow(2, e - 10).toFloat).toInt // in [1024, 2048]
      var e2 = e
      if (m == 2048) { m = 1024; e2 += 1 }
      if (e2 > 15) (sign | 0x7c00).toShort
      else (sign | ((e2 + 15) << 10) | (m - 1024)).toShort
    }
  }

  /** IEEE 754 binary16 -> binary32 (exact: every half value is
    * representable as a float).
    */
  private[grid] def halfToFloat(h: Short): Float = {
    val sign = (h >> 15) & 1
    val exp = (h >> 10) & 0x1f
    val frac = h & 0x3ff
    if (exp == 0x1f) {
      if (frac != 0) Float.NaN
      else if (sign == 1) Float.NegativeInfinity
      else Float.PositiveInfinity
    } else if (exp == 0) {
      val v = frac * 5.9604645e-8f // frac * 2^-24 (subnormal / zero)
      if (sign == 1) -v else v
    } else java.lang.Float.intBitsToFloat(
      (sign << 31) | ((exp - 15 + 127) << 23) | (frac << 13))
  }

  private def decompressed(path: String, raw: Array[Byte],
      comp: Option[(String, Int)], expected: Int): Array[Byte] =
    comp match {
      case None => raw
      case Some(("zlib", _)) => inflate(raw, expected)
      case Some(("gzip", _)) => gunzip(raw)
      case Some(("zstd", _)) =>
        com.github.luben.zstd.Zstd.decompress(raw, expected)
      // any blosc config: the container self-describes codec + shuffle
      case Some((id, _)) if id.startsWith("blosc") =>
        Blosc.decompress(raw, expected)
      case Some((other, _)) => throw new IllegalArgumentException(
        s"$path: unsupported compressor $other")
    }

  /** Decompress a payload whose plain size is NOT known up front (vlen
    * chunks are self-framed): zstd carries it in the frame header, gzip
    * and zlib stream, blosc's container header declares it.
    */
  private def decompressedUnknown(path: String, raw: Array[Byte],
      comp: Option[(String, Int)]): Array[Byte] = comp match {
    case None => raw
    case Some(("gzip", _)) => gunzip(raw)
    case Some(("zstd", _)) =>
      val n = com.github.luben.zstd.Zstd.decompressedSize(raw)
      require(n > 0 && n <= Int.MaxValue,
        s"$path: zstd frame lacks a valid content size ($n)")
      com.github.luben.zstd.Zstd.decompress(raw, n.toInt)
    case Some(("zlib", _)) =>
      val inf = new java.util.zip.Inflater()
      try {
        inf.setInput(raw)
        val out = new java.io.ByteArrayOutputStream(raw.length * 4)
        val buf = new Array[Byte](8192)
        while (!inf.finished()) {
          val k = inf.inflate(buf)
          require(k > 0 || !inf.needsInput, s"$path: truncated zlib stream")
          out.write(buf, 0, k)
        }
        out.toByteArray
      } finally inf.end()
    case Some((id, _)) if id.startsWith("blosc") =>
      require(raw.length >= 16, s"$path: blosc buffer too short")
      val nbytes = ByteBuffer.wrap(raw, 4, 4)
        .order(ByteOrder.LITTLE_ENDIAN).getInt
      Blosc.decompress(raw, nbytes)
    case Some((other, _)) => throw new IllegalArgumentException(
      s"$path: unsupported compressor $other")
  }

  /** numcodecs VLenUTF8 chunk payload -> the chunk's `n` strings. */
  private[grid] def decodeVlen(path: String, bytes: Array[Byte],
      n: Int): Array[String] = {
    require(bytes.length >= 4, s"$path: truncated vlen-utf8 chunk")
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val items = bb.getInt
    require(items == n,
      s"$path: vlen-utf8 chunk holds $items items, expected $n")
    val out = new Array[String](n)
    var i = 0
    var off = 4
    while (i < n) {
      require(off + 4 <= bytes.length, s"$path: truncated vlen-utf8 item $i")
      val len = bb.getInt(off)
      off += 4
      require(len >= 0 && off + len <= bytes.length,
        s"$path: vlen-utf8 item $i has bad length $len")
      out(i) = new String(bytes, off, len,
        java.nio.charset.StandardCharsets.UTF_8)
      off += len
      i += 1
    }
    out
  }

  /** Inverse of [[decodeVlen]] — the write-side vlen-utf8 encoding. */
  private[grid] def encodeVlen(values: Array[String]): Array[Byte] = {
    val encoded = values.map(v =>
      (if (v == null) "" else v)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val total = 4 + encoded.map(4 + _.length).sum
    val bb = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(values.length)
    encoded.foreach { b => bb.putInt(b.length); bb.put(b) }
    bb.array()
  }

  private def decodeTyped(bytes: Array[Byte], dtype: GridType,
      bigEndian: Boolean, n: Int): AnyRef = {
    val bb = ByteBuffer.wrap(bytes).order(
      if (bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
    dtype match {
      case GDouble => val o = new Array[Double](n); bb.asDoubleBuffer().get(o); o
      case GFloat => val o = new Array[Float](n); bb.asFloatBuffer().get(o); o
      case GInt => val o = new Array[Int](n); bb.asIntBuffer().get(o); o
      case GLong | GTimestamp | GDuration =>
        val o = new Array[Long](n); bb.asLongBuffer().get(o); o
      case GString => throw new IllegalArgumentException(
        "string arrays unsupported")
    }
  }

  /** Decode one v3 SHARD file into the full outer chunk: verify + read
    * the (offset, nbytes) index, decode each present inner chunk
    * through the inner codec pipeline, byte-assemble in C order, fill
    * the missing inner blocks, then one endian pass over the whole
    * outer chunk. Used only when the request covers the WHOLE shard
    * (one full-file read beats index + per-inner range GETs there) and
    * by the streaming tail, which receives complete shard files from
    * Spark's file source; partial requests go through
    * [[readInnerChunk]]'s ranged reads instead.
    */
  private def readShard(path: String, a: ZarrArrayMeta,
      raw: Array[Byte]): AnyRef = {
    val sh = a.sharding.get
    val w = a.storedWidth
    val nd = a.nd
    val innerPerDim = (0 until nd).map(d => a.chunkShape(d) / sh.innerShape(d))
    val nInner = innerPerDim.product
    val idxBody = nInner * 16
    val idxLen = idxBody + (if (sh.indexCrc32c) 4 else 0)
    require(raw.length >= idxLen, s"shard $path shorter than its index")
    val idxOff = if (sh.indexAtEnd) raw.length - idxLen else 0
    if (sh.indexCrc32c) {
      val crc = new java.util.zip.CRC32C()
      crc.update(raw, idxOff, idxBody)
      val stored = ByteBuffer.wrap(raw, idxOff + idxBody, 4)
        .order(ByteOrder.LITTLE_ENDIAN).getInt
      require(crc.getValue.toInt == stored,
        s"shard $path: index crc32c mismatch")
    }
    val idx = ByteBuffer.wrap(raw, idxOff, idxBody)
      .order(ByteOrder.LITTLE_ENDIAN)
    val entries = (0 until nInner).map(_ => (idx.getLong, idx.getLong))

    val n = a.chunkShape.product
    if (a.stored.contains(StoredVlenStr))
      return readShardVlen(path, a, raw, entries)
    val outBytes = new Array[Byte](n * w)
    if (entries.exists(_._1 == -1L)) {
      // prefill with the fill value's byte pattern (inner endianness —
      // the single decode below uses the same)
      val pat = storedFillPattern(a, sh.innerBigEndian)
      var i = 0
      while (i < outBytes.length) {
        System.arraycopy(pat, 0, outBytes, i, w); i += w
      }
    }

    val g = new InnerGrid(a.chunkShape, sh.innerShape)
    val innerN = g.innerN
    val run = g.rowLen * w
    var k = 0
    while (k < nInner) {
      val (off, nb) = entries(k)
      if (off != -1L || nb != -1L) {
        require(off >= 0 && nb >= 0 && off + nb <= raw.length,
          s"shard $path: inner chunk $k index out of range")
        val comp = java.util.Arrays.copyOfRange(
          raw, off.toInt, (off + nb).toInt)
        val bytes = decompressed(s"$path#$k", comp,
          sh.innerCompressor, innerN * w)
        require(bytes.length == innerN * w,
          s"shard $path: inner chunk $k decodes to ${bytes.length} bytes, " +
            s"expected ${innerN * w}")
        // copy the inner block row by row into the outer byte image
        val offs = g.rowOffsets(k)
        var r = 0
        while (r < g.innerRows) {
          System.arraycopy(bytes, r * run, outBytes, offs(r) * w, run)
          r += 1
        }
      }
      k += 1
    }
    decodeStored(outBytes, a, sh.innerBigEndian, n)
  }

  /** The vlen-utf8 face of [[readShard]]: decode each present inner
    * chunk's VLenUTF8 frame through the inner compressor and scatter
    * its STRINGS (element-level, no fixed byte stride — which is why
    * the byte-assembly fast path above cannot serve vlen shards);
    * absent inner chunks stay the declared string fill.
    */
  private def readShardVlen(path: String, a: ZarrArrayMeta,
      raw: Array[Byte], entries: Seq[(Long, Long)]): Array[String] = {
    val sh = a.sharding.get
    val g = new InnerGrid(a.chunkShape, sh.innerShape)
    val out = Array.fill(a.chunkShape.product)(a.stringFill)
    var k = 0
    while (k < entries.length) {
      val (off, nb) = entries(k)
      if (off != -1L || nb != -1L) {
        require(off >= 0 && nb >= 0 && off + nb <= raw.length,
          s"shard $path: inner chunk $k index out of range")
        val comp = java.util.Arrays.copyOfRange(
          raw, off.toInt, (off + nb).toInt)
        val strings = decodeVlen(s"$path#$k",
          decompressedUnknown(s"$path#$k", comp, sh.innerCompressor),
          g.innerN)
        val offs = g.rowOffsets(k)
        var r = 0
        while (r < g.innerRows) {
          System.arraycopy(strings, r * g.rowLen, out, offs(r), g.rowLen)
          r += 1
        }
      }
      k += 1
    }
    out
  }

  /** One element's stored byte pattern of the declared fill value. */
  private def storedFillPattern(a: ZarrArrayMeta,
      bigEndian: Boolean): Array[Byte] = {
    val one = ByteBuffer.allocate(a.storedWidth).order(if (bigEndian)
      ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
    val intFill = if (a.fillValue.isNaN) 0L else a.fillValue.toLong
    a.stored match {
      case Some(StoredInt(1, _)) => one.put(intFill.toByte)
      case Some(StoredInt(2, _)) => one.putShort(intFill.toShort)
      case Some(StoredInt(4, _)) => one.putInt(intFill.toInt)
      case Some(StoredInt(8, _)) => one.putLong(intFill)
      // stored-unit fill; decodeStored converts it to µs like any cell
      case Some(StoredTime64(_, _)) => one.putLong(intFill)
      case Some(StoredCfTime(w, _, _, _)) =>
        if (w == 8) one.putLong(intFill) else one.putInt(intFill.toInt)
      case Some(StoredHalf) =>
        one.putShort(floatToHalf(a.fillValue.toFloat))
      case Some(s) => throw new IllegalArgumentException(
        s"${a.name}: bad packed layout $s")
      case None => a.dtype match {
        case GDouble => one.putDouble(a.fillValue)
        case GFloat => one.putFloat(a.fillValue.toFloat)
        case GInt => one.putInt(intFill.toInt)
        case GLong | GTimestamp | GDuration => one.putLong(intFill)
        case GString => throw new IllegalArgumentException(
          "string arrays unsupported")
      }
    }
    one.array()
  }

  // ---- sharded inner-chunk reads -------------------------------------

  /** Parsed shard-index cache. An index is small (16 B per inner chunk)
    * but costs a metadata + range round trip; without caching, every
    * inner-chunk task of the same shard re-fetches it. Keyed by
    * (path, length, mtime) so a rewritten shard can never serve a stale
    * index; bounded LRU in access order (per-executor working set).
    */
  private val shardIndexCache =
    new java.util.LinkedHashMap[(String, Long, Long), Array[Long]](
      64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Long), Array[Long]]): Boolean =
        size() > 1024
    }

  /** The (offset, nbytes) pairs of one shard's index — flat
    * [off0, nb0, off1, nb1, ...] — fetched by ranged read from the
    * index's known position, crc-verified, cached. None = shard file
    * absent (the spec'd all-fill case).
    */
  private def shardIndex(path: String, sh: ShardMeta, nInner: Int,
      conf: org.apache.hadoop.conf.Configuration): Option[Array[Long]] =
    GridIO.statusOf(path, conf).map { case (len, mtime) =>
      val key = (path, len, mtime)
      shardIndexCache.synchronized(Option(shardIndexCache.get(key)))
        .getOrElse {
          val idxBody = nInner * 16
          val idxLen = idxBody + (if (sh.indexCrc32c) 4 else 0)
          require(len >= idxLen, s"shard $path shorter than its index")
          val raw = GridIO.readRange(path,
            if (sh.indexAtEnd) len - idxLen else 0L, idxLen, conf)
          if (sh.indexCrc32c) {
            val crc = new java.util.zip.CRC32C()
            crc.update(raw, 0, idxBody)
            val stored = ByteBuffer.wrap(raw, idxBody, 4)
              .order(ByteOrder.LITTLE_ENDIAN).getInt
            require(crc.getValue.toInt == stored,
              s"shard $path: index crc32c mismatch")
          }
          val bb = ByteBuffer.wrap(raw, 0, idxBody)
            .order(ByteOrder.LITTLE_ENDIAN)
          val entries = new Array[Long](nInner * 2)
          var i = 0
          while (i < entries.length) { entries(i) = bb.getLong; i += 1 }
          shardIndexCache.synchronized(shardIndexCache.put(key, entries))
          entries
        }
    }

  /** Ranged reads of the same shard separated by a hole up to this
    * many bytes merge into one GET (the hole is fetched and
    * discarded): object stores price a request like ~dozens of KB of
    * transfer, so below this size one merged read strictly wins.
    */
  private[grid] val CoalesceGapBytes: Long = 64L * 1024

  /** Every inner chunk a gather over `ranges` touches, decoded to the
    * logical element type, keyed by global inner-chunk index. This is
    * the 100x-scale read path — task I/O is inner-chunk-sized
    * regardless of shard file size, a pruned scan never touches the
    * bytes of pruned inner chunks, and requests are COALESCED: the
    * needed index entries of each shard are sorted by file offset and
    * byte-adjacent runs merge into ONE range GET that is sliced per
    * inner chunk afterwards. Shards written by this engine (and
    * zarr-python) lay inner chunks out in C order back to back, so a
    * contiguous slice costs ~1 request per shard + the (cached) index
    * fetch instead of one request per inner chunk — at object-store
    * scale, request count is as real a cost as bytes.
    */
  private def readInnerChunks(root: String, a: ZarrArrayMeta, sh: ShardMeta,
      ranges: Seq[(Int, Int)],
      conf: org.apache.hadoop.conf.Configuration)
      : Map[Seq[Int], AnyRef] = {
    val nd = a.nd
    val inner = sh.innerShape
    val innersPerShard = (0 until nd).map(d => a.chunkShape(d) / inner(d))
    val nInner = innersPerShard.product
    val innerN = inner.product
    // one shared fill block serves every absent inner chunk (gather
    // only reads from it)
    lazy val fillChunk: AnyRef =
      if (a.stored.contains(StoredVlenStr)) Array.fill(innerN)(a.stringFill)
      else {
        val w = a.storedWidth
        val pat = storedFillPattern(a, sh.innerBigEndian)
        val bytes = new Array[Byte](innerN * w)
        var i = 0
        while (i < bytes.length) {
          System.arraycopy(pat, 0, bytes, i, w); i += w
        }
        decodeStored(bytes, a, sh.innerBigEndian, innerN)
      }
    // odometer over the box of intersecting inner-chunk indices
    val lo = (0 until nd).map(i => ranges(i)._1 / inner(i))
    val hi = (0 until nd).map(i =>
      (ranges(i)._1 + ranges(i)._2 - 1) / inner(i))
    val cis = Seq.newBuilder[Seq[Int]]
    val cur = lo.toArray
    var done = false
    while (!done) {
      cis += cur.toSeq
      var j = nd - 1
      var carry = true
      while (carry && j >= 0) {
        cur(j) += 1
        if (cur(j) <= hi(j)) carry = false
        else { cur(j) = lo(j); j -= 1 }
      }
      if (carry) done = true
    }
    val out = Map.newBuilder[Seq[Int], AnyRef]
    cis.result()
      .groupBy(ci => (0 until nd).map(d => ci(d) / innersPerShard(d)))
      .foreach { case (shardCi, innerCis) =>
        val path = s"$root/${a.name}/${a.chunkKey(shardCi)}"
        shardIndex(path, sh, nInner, conf) match {
          case None => // whole shard file absent: the spec'd all-fill
            innerCis.foreach(ci => out += ci -> fillChunk)
          case Some(entries) =>
            val wanted = innerCis.flatMap { ci =>
              // C-order flat index of this inner chunk within its shard
              var k = 0
              var d = 0
              while (d < nd) {
                k = k * innersPerShard(d) + ci(d) % innersPerShard(d)
                d += 1
              }
              val off = entries(2 * k)
              val nb = entries(2 * k + 1)
              if (off == -1L && nb == -1L) { out += ci -> fillChunk; None }
              else {
                require(off >= 0 && nb >= 0 && nb <= Int.MaxValue,
                  s"shard $path: inner chunk $k index entry out of range")
                Some((off, nb, k, ci))
              }
            }.sortBy(_._1)
            var i = 0
            while (i < wanted.length) {
              // extend the run while entries are byte-adjacent in file,
              // or separated by a SMALL hole (skipped/absent inner
              // chunks between wanted ones — a multi-dim request box
              // selects file-non-contiguous inner chunks): fetching and
              // discarding a few KB beats paying another round trip on
              // an object store, where requests cost like bytes do
              var j = i
              while (j + 1 < wanted.length && {
                val gap = wanted(j + 1)._1 - (wanted(j)._1 + wanted(j)._2)
                gap >= 0 && gap <= CoalesceGapBytes
              }) j += 1
              val runOff = wanted(i)._1
              val runLen = wanted(j)._1 + wanted(j)._2 - runOff
              require(runLen <= Int.MaxValue,
                s"shard $path: coalesced read of $runLen bytes too large")
              val buf = GridIO.readRange(path, runOff, runLen.toInt, conf)
              var m = i
              while (m <= j) {
                val (off, nb, k, ci) = wanted(m)
                val comp = java.util.Arrays.copyOfRange(buf,
                  (off - runOff).toInt, (off - runOff + nb).toInt)
                out += ci -> decodeInner(path, a, sh, k, comp, innerN)
                m += 1
              }
              i = j + 1
            }
        }
      }
    out.result()
  }

  /** One inner chunk's compressed bytes -> logical elements (numeric
    * via the inner pipeline + widening decode, strings via vlen-utf8).
    */
  private def decodeInner(path: String, a: ZarrArrayMeta, sh: ShardMeta,
      k: Int, comp: Array[Byte], innerN: Int): AnyRef =
    if (a.stored.contains(StoredVlenStr))
      decodeVlen(s"$path#$k",
        decompressedUnknown(s"$path#$k", comp, sh.innerCompressor), innerN)
    else {
      val w = a.storedWidth
      val bytes = decompressed(s"$path#$k", comp, sh.innerCompressor,
        innerN * w)
      require(bytes.length == innerN * w,
        s"shard $path: inner chunk $k decodes to ${bytes.length} " +
          s"bytes, expected ${innerN * w}")
      decodeStored(bytes, a, sh.innerBigEndian, innerN)
    }

  private def fillArray(dtype: GridType, fill: Double, n: Int): AnyRef =
    dtype match {
      case GDouble =>
        val o = new Array[Double](n); java.util.Arrays.fill(o, fill); o
      case GFloat =>
        val o = new Array[Float](n); java.util.Arrays.fill(o, fill.toFloat); o
      case GInt =>
        val o = new Array[Int](n)
        java.util.Arrays.fill(o, if (fill.isNaN) 0 else fill.toInt); o
      case GLong | GTimestamp | GDuration =>
        val o = new Array[Long](n)
        java.util.Arrays.fill(o, if (fill.isNaN) 0L else fill.toLong); o
      // vlen string padding (edge chunks); missing-chunk fills use the
      // array's own declared stringFill at the call site
      case GString => Array.fill(n)("")
    }

  // ---- metadata parse ------------------------------------------------

  private[grid] def parseJson(bytes: Array[Byte]): JsonNode =
    new ObjectMapper().readTree(bytes)

  private def parseArray(root: String, name: String,
      conf: org.apache.hadoop.conf.Configuration): ZarrArrayMeta = {
    val za = parseJson(GridIO.readAllBytes(s"$root/$name/.zarray", conf))
    val attrsPath = s"$root/$name/.zattrs"
    val attrsOpt =
      if (GridIO.exists(attrsPath, conf))
        Some(parseJson(GridIO.readAllBytes(attrsPath, conf)))
      else None
    parseArrayNode(name, za, attrsOpt)
  }

  /** Parse one array's metadata from already-loaded JSON nodes (shared
    * by the per-file and consolidated open paths).
    */
  private def parseArrayNode(name: String, za: JsonNode,
      attrsOpt: Option[JsonNode]): ZarrArrayMeta = {
    require(za != null && za.isObject, s"$name: missing .zarray metadata")
    require(za.path("zarr_format").asInt(0) == 2,
      s"$name: unsupported zarr_format")
    val shape = za.path("shape").elements().asScala.map(_.asInt()).toSeq
    val chunks = za.path("chunks").elements().asScala.map(_.asInt()).toSeq
    // shape [] = a 0-d SCALAR array (xarray scalar variables — e.g.
    // rioxarray's ubiquitous `spatial_ref` CRS var); single chunk "0"
    require(chunks.length == shape.length,
      s"$name: bad shape/chunks")
    require(chunks.forall(_ > 0) && shape.forall(_ >= 0),
      s"$name: non-positive chunk extent")
    val order = if (za.hasNonNull("order")) za.get("order").asText else "C"
    require(order == "C" || order == "F",
      s"$name: bad order '$order' (C or F)")
    // Fortran order = C order with the axes reversed; decode permutes
    // each chunk back, everything downstream stays C-order
    val transposeOrder =
      if (order == "F" && shape.length > 1) Some(shape.indices.reverse)
      else None
    val dtypeStr = za.path("dtype").asText("")
    val (dtype, bigEndian, stored) = parseDtype(dtypeStr, name)
    val isVlen = stored.contains(StoredVlenStr)
    val filters: Seq[ZarrFilter] =
      if (isVlen) {
        // zarr-python 2's string arrays: dtype |O with numcodecs
        // VLenUTF8 as the (sole) filter; the vlen decode is keyed off
        // the stored-element kind, so no ZarrFilter entry is kept
        require(za.hasNonNull("filters") && za.get("filters").isArray &&
          za.get("filters").size == 1 &&
          za.get("filters").get(0).path("id").asText("") == "vlen-utf8",
          s"$name: object dtype requires exactly the vlen-utf8 filter")
        Nil
      } else if (!za.hasNonNull("filters")) Nil
      else {
        require(za.get("filters").isArray, s"$name: bad filters")
        za.get("filters").elements().asScala.map { f =>
          f.path("id").asText("") match {
            case "shuffle" =>
              val es = f.path("elementsize").asInt(4)
              require(es >= 1, s"$name: bad shuffle elementsize $es")
              ZarrFilter("shuffle", es, dtypeStr)
            case "delta" =>
              val fd = f.path("dtype").asText(dtypeStr)
              require(fd == dtypeStr,
                s"$name: delta dtype '$fd' differing from array dtype " +
                  s"'$dtypeStr' unsupported")
              val at = f.path("astype").asText(fd)
              require(at == fd,
                s"$name: delta astype '$at' differing from dtype " +
                  "unsupported")
              ZarrFilter("delta", 0, fd)
            case other => throw new IllegalArgumentException(
              s"$name: unsupported filter '$other' (shuffle/delta only)")
          }
        }.toSeq
      }
    val compressor =
      if (!za.hasNonNull("compressor")) None
      else {
        val c = za.get("compressor")
        val id = c.path("id").asText("")
        id match {
          case "zlib" | "gzip" | "zstd" =>
            Some((id, c.path("level").asInt(1)))
          case "blosc" =>
            // READS need no config (the chunk header self-describes the
            // inner codec and shuffle filter), but the cname/shuffle are
            // preserved in the id (`blosc/<cname>/<mode>`) so appends
            // RE-ENCODE new chunks with the tree's declared config, and
            // the cname is validated to fail fast at open instead of on
            // the first executor-side chunk read
            val cname = c.path("cname").asText("lz4")
            require(
              Set("blosclz", "lz4", "lz4hc", "zstd", "zlib", "snappy")(cname),
              s"$name: blosc cname '$cname' has no JVM implementation " +
                "(blosclz/lz4/lz4hc/zstd/zlib/snappy are supported)")
            // numcodecs shuffle ints: 0 none, 1 byte, 2 bit,
            // -1 auto (byte for multi-byte dtypes — numcodecs' pick)
            val mode = c.path("shuffle").asInt(1) match {
              case 0 => "none"
              case 2 => "bit"
              case _ => "byte"
            }
            Some((s"blosc/$cname/$mode", c.path("clevel").asInt(5)))
          case other => throw new IllegalArgumentException(
            s"$name: unsupported compressor '$other'")
        }
      }
    val fill: Double = za.path("fill_value") match {
      case f if f == null || f.isNull || f.isMissingNode => Double.NaN
      case _ if isVlen => Double.NaN // string fill parsed below
      case f if f.isNumber => f.asDouble()
      // zarr-python writes JSON true/false for |b1 (bool) arrays
      case f if f.isBoolean => if (f.asBoolean()) 1.0 else 0.0
      case f if f.isTextual => f.asText() match {
        case "NaN" => Double.NaN
        case "Infinity" => Double.PositiveInfinity
        case "-Infinity" => Double.NegativeInfinity
        case other => throw new IllegalArgumentException(
          s"$name: bad fill_value '$other'")
      }
      case f => throw new IllegalArgumentException(
        s"$name: bad fill_value $f")
    }
    val stringFill: String = za.path("fill_value") match {
      case f if isVlen && f.isTextual => f.asText()
      case _ => ""
    }
    val dimSep =
      if (za.hasNonNull("dimension_separator"))
        za.get("dimension_separator").asText
      else "."
    require(dimSep == "." || dimSep == "/",
      s"$name: bad dimension_separator '$dimSep'")
    val attrsNode: JsonNode =
      attrsOpt.getOrElse(new ObjectMapper().createObjectNode())
    val dims = attrsNode.path("_ARRAY_DIMENSIONS") match {
      case d if d.isArray =>
        d.elements().asScala.map(_.asText()).toSeq
      // a 0-d scalar array needs no axis names (xarray may omit the
      // attribute entirely for them)
      case _ if shape.isEmpty => Seq.empty
      case _ => throw new IllegalArgumentException(
        s"$name: missing _ARRAY_DIMENSIONS (the xarray dimension-naming " +
          "convention); cannot infer axis names")
    }
    require(dims.length == shape.length,
      s"$name: ${dims.length} dim names for ${shape.length}-d array")
    ZarrArrayMeta(name, shape, chunks, dtype, bigEndian, compressor, fill,
      dimSep, dims, attrMap(attrsNode) - "_ARRAY_DIMENSIONS",
      stored = stored, filters = filters, stringFill = stringFill,
      transposeOrder = transposeOrder)
  }

  private val strDtype = raw"([<>|])([SU])(\d+)".r
  private val m8Dtype = raw"([<>])([Mm])8\[(ns|us|ms|s|m|h|D|W)\]".r

  /** (num, den) such that µs = stored * num / den for one datetime64/
    * timedelta64 storage unit — numpy's full ns-to-week ladder (weeks
    * are exactly 7 days); M/Y are calendar-variable with no fixed µs
    * law and stay unsupported.
    */
  private[grid] def m8Scale(unit: String): (Long, Long) = unit match {
    case "ns" => (1L, 1000L)
    case "us" => (1L, 1L)
    case "ms" => (1000L, 1L)
    case "s" => (1000000L, 1L)
    case "m" => (60000000L, 1L)
    case "h" => (3600000000L, 1L)
    case "D" => (86400000000L, 1L)
    case "W" => (604800000000L, 1L) // numpy weeks are exactly 7 days
    case other => throw new IllegalArgumentException(
      s"unsupported datetime64 unit '$other' (ns/us/ms/s/m/h/D/W)")
  }

  private def parseDtype(s: String,
      name: String): (GridType, Boolean, Option[StoredElem]) = {
    // object dtype: zarr-python 2's variable-length strings (the
    // vlen-utf8 filter requirement is enforced by the caller)
    if (s == "|O") return (GString, false, Some(StoredVlenStr))
    // raw numpy time dtypes: datetime64 (M8) -> timestamps,
    // timedelta64 (m8) -> day-time intervals, both µs-backed
    s match {
      case m8Dtype(ord, kind, unit) =>
        val (num, den) = m8Scale(unit)
        return (if (kind == "M") GTimestamp else GDuration,
          ord == ">", Some(StoredTime64(num, den)))
      case _ => ()
    }
    // fixed-width strings first: |S<n> bytes, <U<n>/>U<n> UTF-32
    s match {
      case strDtype(ord, kind, n) =>
        val nchars = n.toInt
        require(nchars > 0, s"$name: zero-width string dtype '$s'")
        require(kind == "S" || ord != "|",
          s"$name: bad byte order '$ord' for U dtype '$s'")
        return (GString, ord == ">",
          Some(StoredStr(nchars, utf32 = kind == "U")))
      case _ => ()
    }
    require(s.length == 3, s"$name: unsupported dtype '$s'")
    val bigEndian = s.charAt(0) match {
      case '<' | '|' => false // '|' = byte-order-irrelevant (1-byte)
      case '>' => true
      case other => throw new IllegalArgumentException(
        s"$name: unsupported byte order '$other' in dtype '$s'")
    }
    // packed small ints (i1/u1/i2/u2/u4) widen to GInt (u4 to GLong) —
    // the layout most public archives use for scaled variables
    s.substring(1) match {
      case "f8" => (GDouble, bigEndian, None)
      case "f4" => (GFloat, bigEndian, None)
      case "i4" => (GInt, bigEndian, None)
      case "i8" => (GLong, bigEndian, None)
      case "i1" => (GInt, bigEndian, Some(StoredInt(1, signed = true)))
      case "u1" => (GInt, bigEndian, Some(StoredInt(1, signed = false)))
      // numpy bool (mask variables): one byte 0/1, u1's exact layout —
      // surfaces as INT 0/1 (queryable as `mask = 1`)
      case "b1" => (GInt, bigEndian, Some(StoredInt(1, signed = false)))
      case "i2" => (GInt, bigEndian, Some(StoredInt(2, signed = true)))
      case "u2" => (GInt, bigEndian, Some(StoredInt(2, signed = false)))
      case "u4" => (GLong, bigEndian, Some(StoredInt(4, signed = false)))
      // u8 widens to LONG with a loud per-value overflow check: the
      // high bit set means the archive holds counts past Long.Max,
      // which no SQL integer column can carry faithfully
      case "u8" => (GLong, bigEndian, Some(StoredInt(8, signed = false)))
      case "f2" => (GFloat, bigEndian, Some(StoredHalf))
      case _ => throw new IllegalArgumentException(
        s"$name: unsupported dtype '$s' " +
          "(f2/f4/f8/i4/i8/i1/i2/u1/u2/u4/u8/b1/M8/m8 only)")
    }
  }

  /** Attribute node -> string map: scalars via asText, arrays/objects
    * as their compact JSON (lossless, queryable as text).
    */
  private[grid] def attrMap(node: JsonNode): Map[String, String] =
    node.properties().asScala.map { e =>
      val v = e.getValue
      e.getKey -> (if (v.isValueNode) v.asText() else v.toString)
    }.toMap

  private def inflate(raw: Array[Byte], expected: Int): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(raw)
      val out = new Array[Byte](expected)
      var off = 0
      while (off < expected && !inf.finished()) {
        val n = inf.inflate(out, off, expected - off)
        require(n > 0 || !inf.needsInput, "truncated zlib stream")
        off += n
      }
      require(off == expected, s"zlib stream yields $off of $expected bytes")
      out
    } finally inf.end()
  }

  private def gunzip(raw: Array[Byte]): Array[Byte] = {
    val in = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(raw))
    try in.readAllBytes()
    finally in.close()
  }

  // ---- write ---------------------------------------------------------

  /** Materialize `source` as a real Zarr v2 tree (one array per dim
    * coordinate + one per variable, xarray `_ARRAY_DIMENSIONS`
    * convention, little-endian, edge chunks padded per the spec) and
    * re-open it. `compressor` grammar: `none | zlib[:level] |
    * gzip[:level] | zstd[:level]`. Timestamp coordinates encode as
    * int64 microseconds since the epoch on the proleptic Gregorian
    * calendar (they hold real-timeline instants by construction);
    * non-Gregorian axes keep their original offsets/units/calendar, so
    * they round-trip exactly. Doubles as the engine's Zarr SINK — the
    * written tree is consumable by any v2 reader.
    */
  def write(source: GridStore, root: String, chunks: Map[String, Int],
      compressor: String = "zlib"): ZarrGridStore = {
    val conf = GridIO.driverConf()
    val cleanRoot = root.stripSuffix("/")
    val comp = parseCompressor(compressor)
    val tasks = writeShell(source.schema, cleanRoot, chunks, comp, conf)
    val entries = tasks.map(_.run(source, comp, conf))
    source.schema.vars.filter(_.dims.isEmpty).foreach(v =>
      writeScalarChunk(cleanRoot, v, source.readVar(v.name, Seq.empty),
        comp, "0", conf))
    writeStatsSidecar(cleanRoot, source.schema, entries, conf)
    consolidate(cleanRoot, conf)
    open(cleanRoot) // takes the consolidated path it just wrote
  }

  /** One data chunk's write work: read the block from the source, pad
    * to the full chunk shape, encode, write the chunk file; returns
    * the chunk's sidecar stats entry. Small and Serializable so
    * [[writeDistributed]] ships it to executors.
    */
  private[grid] final case class ChunkWriteTask(dir: String, varName: String,
      dtype: GridType, chunkSz: Seq[Int],
      block: Seq[(Int, Int)]) extends Serializable {
    def run(source: GridStore, comp: Option[(String, Int)],
        conf: org.apache.hadoop.conf.Configuration)
        : (String, Option[(Any, Any)], Option[Double]) = {
      val ci = block.zip(chunkSz).map(b => b._1._1 / b._2)
      val eff = block.map(_._2).toArray
      val data = source.readVar(varName, block)
      val padded = padChunk(data, eff, chunkSz.toArray, dtype)
      val payload =
        if (dtype == GString) // |O + vlen-utf8 layout
          compress(encodeVlen(padded.asInstanceOf[Array[String]]), comp, 1)
        else compress(toLE(padded, dtype), comp, dtype.byteWidth)
      GridIO.write(s"$dir/${ci.mkString(".")}", payload, conf)
      (s"$varName ${ci.mkString(".")}",
        ChunkStats.chunkStats(data), ChunkStats.chunkSum(data))
    }
  }

  /** Driver-side shell of a v2 write: group metadata, coordinate
    * arrays, per-variable `.zarray`/`.zattrs` — everything except the
    * data chunks, which come back as the task list.
    */
  private def writeShell(schema: GridSchema, cleanRoot: String,
      chunks: Map[String, Int], comp: Option[(String, Int)],
      conf: org.apache.hadoop.conf.Configuration): Seq[ChunkWriteTask] = {
    GridIO.mkdirs(cleanRoot, conf)
    // a re-write into an existing root must drop the old sidecar
    // BEFORE any chunk lands: a crash mid-write then leaves no stats
    // (sound) instead of old bounds next to new data
    GridIO.delete(s"$cleanRoot/$StatsSidecar", conf)
    GridIO.writeString(s"$cleanRoot/.zgroup", """{"zarr_format":2}""", conf)
    if (schema.attrs.nonEmpty)
      GridIO.writeString(s"$cleanRoot/.zattrs", attrsJson(schema.attrs), conf)

    schema.dims.foreach(d => writeCoord(cleanRoot, d, conf))

    schema.vars.flatMap { v =>
      val dir = s"$cleanRoot/${v.name}"
      GridIO.mkdirs(dir, conf)
      val dimSz = v.dims.map(d => schema.dim(d).size)
      val chunkSz = v.dims.map(d =>
        chunks.getOrElse(d, math.max(schema.dim(d).size, 1)))
      val fillJson = v.dtype match {
        case GDouble | GFloat => "\"NaN\""
        case GString => "\"\""
        // NaT: absent chunks of a time variable read as all-NULL, the
        // missing-data semantics, never as epoch-0 instants
        case GTimestamp | GDuration => Long.MinValue.toString
        case _ => "0"
      }
      val filtersJson = // zarr-python 2's string-array convention
        if (v.dtype == GString) """[{"id":"vlen-utf8"}]""" else "null"
      GridIO.writeString(s"$dir/.zarray", zarrayJson(dimSz, chunkSz,
        dtypeString(v.dtype), comp, fillJson, filtersJson), conf)
      GridIO.writeString(s"$dir/.zattrs",
        attrsJson(v.attrs, Some(v.dims)), conf)
      // 0-d (scalar) variables: shape []/chunks [] metadata above; the
      // single chunk ("0") is metadata-sized and written driver-side by
      // the caller via writeScalarChunk — no distributed task
      if (v.dims.isEmpty) Seq.empty
      else {
        val sub = GridSchema(v.dims.map(schema.dim), Seq.empty)
        ChunkGrid.blocks(sub, chunks).map(block =>
          ChunkWriteTask(dir, v.name, v.dtype, chunkSz, block))
      }
    }
  }

  /** Write a 0-d variable's single chunk — `"0"` (v2) or `"c"` (v3) —
    * from its 1-element array. Scalars are metadata-sized (rioxarray's
    * `spatial_ref` pattern), so this runs driver-side in every writer;
    * no stats entry is recorded (nothing to prune on a 1-cell array).
    */
  private[grid] def writeScalarChunk(cleanRoot: String, v: VarDef,
      value: AnyRef, comp: Option[(String, Int)], key: String,
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    require(java.lang.reflect.Array.getLength(value) == 1,
      s"${v.name}: scalar variable value must be a single element")
    val payload =
      if (v.dtype == GString)
        compress(encodeVlen(value.asInstanceOf[Array[String]]), comp, 1)
      else compress(toLE(value, v.dtype), comp, v.dtype.byteWidth)
    GridIO.write(s"$cleanRoot/${v.name}/$key", payload, conf)
  }

  /** The 1-element array of a 0-d variable taken from a row-scatter
    * DataFrame: the variable's column must hold exactly one distinct
    * non-null value (every row of a pivoted grid carries the same
    * scalar — xarray broadcasts scalars the same way).
    */
  private[grid] def scalarValueFromRows(df: org.apache.spark.sql.DataFrame,
      v: VarDef): AnyRef = {
    val rows = df.select(df.col(v.name)).distinct().limit(2).collect()
    require(rows.length == 1 && !rows.head.isNullAt(0),
      s"${v.name}: a 0-d (scalar) variable's column must hold exactly " +
        "one non-null value")
    val x = rows.head.get(0)
    v.dtype match {
      case GDouble => Array(x.asInstanceOf[Double])
      case GFloat => Array(x.asInstanceOf[Float])
      case GInt => Array(x.asInstanceOf[Int])
      case GLong => Array(x.asInstanceOf[Long])
      case GString => Array(x.asInstanceOf[String])
      case GTimestamp => x match {
        case t: java.sql.Timestamp =>
          Array(Math.addExact(Math.multiplyExact(
            Math.floorDiv(t.getTime, 1000L), 1000000L),
            (t.getNanos / 1000).toLong))
        case i: java.time.Instant =>
          Array(Math.addExact(Math.multiplyExact(i.getEpochSecond,
            1000000L), (i.getNano / 1000).toLong))
        case other => throw new IllegalArgumentException(
          s"${v.name}: unexpected timestamp box ${other.getClass}")
      }
      case GDuration => x match {
        case d: java.time.Duration =>
          Array(Math.addExact(Math.multiplyExact(d.getSeconds, 1000000L),
            (d.getNano / 1000).toLong))
        case other => throw new IllegalArgumentException(
          s"${v.name}: unexpected duration box ${other.getClass}")
      }
    }
  }

  /** [[write]] with EXECUTOR-side chunk encoding and writes — the scale
    * path for materializing a large grid as Zarr. The driver writes
    * only metadata and coordinate arrays; the chunk task list
    * parallelizes across the cluster, each task reading its block from
    * the (serializable) source store and writing through the shipped
    * Hadoop conf. At 10⁵–10⁶ chunks the driver-side loop of [[write]]
    * is the bottleneck; here wall-clock is chunks / cluster-cores. The
    * store-to-store shape also makes this the distributed
    * format-conversion path (binary → Zarr, Zarr → rechunked Zarr).
    */
  def writeDistributed(source: GridStore, root: String,
      chunks: Map[String, Int],
      compressor: String = "zlib"): ZarrGridStore = {
    val spark = org.apache.spark.sql.SparkSession.active
    val conf = GridIO.driverConf()
    val cleanRoot = root.stripSuffix("/")
    val comp = parseCompressor(compressor)
    val tasks = writeShell(source.schema, cleanRoot, chunks, comp, conf)
    val sc = spark.sparkContext
    val hconf = GridIO.shippable()
    val bSource = sc.broadcast(source)
    val parts = math.max(1, math.min(tasks.size, sc.defaultParallelism * 2))
    // stats entries are tiny ((key, min, max, sum) per chunk) — the
    // collect is metadata-sized, never data-sized
    val entries = sc.parallelize(tasks, parts)
      .map(t => t.run(bSource.value, comp, hconf.value)).collect().toSeq
    bSource.destroy()
    source.schema.vars.filter(_.dims.isEmpty).foreach(v =>
      writeScalarChunk(cleanRoot, v, source.readVar(v.name, Seq.empty),
        comp, "0", conf))
    writeStatsSidecar(cleanRoot, source.schema, entries, conf)
    consolidate(cleanRoot, conf)
    open(cleanRoot)
  }

  /** Distributed DataFrame → Zarr v2 reverse pivot: scatter a
    * relational result STRAIGHT into a Zarr tree with no driver
    * materialization and no intermediate store. [[GridWriter]]'s
    * machinery does the heavy lifting — one (chunk, offset, value)
    * triple per cell, one hash repartition, executors assemble dense
    * chunks — and the sink writes PADDED little-endian compressed v2
    * chunk files; the driver writes only group/array metadata +
    * coordinate arrays and consolidates. `df` carries the schema's dim
    * columns and each variable's value column. Unset cells become the declared
    * fill (NaN for float kinds, 0 for ints).
    */
  def writeFromRows(df: org.apache.spark.sql.DataFrame, schema: GridSchema,
      chunks: Map[String, Int], root: String,
      compressor: String = "zlib"): ZarrGridStore = {
    val conf = GridIO.driverConf()
    val cleanRoot = root.stripSuffix("/")
    val comp = parseCompressor(compressor)
    writeShell(schema, cleanRoot, chunks, comp, conf) // data via scatter
    val entries = schema.vars.filter(_.dims.nonEmpty).flatMap { v =>
      val chunkSz = v.dims.map(d =>
        chunks.getOrElse(d, math.max(schema.dim(d).size, 1)))
      GridWriter.writeVar(df, schema, chunks,
        GridWriter.ZarrSink(cleanRoot, v.dtype, chunkSz, comp), v)
    }
    schema.vars.filter(_.dims.isEmpty).foreach(v =>
      writeScalarChunk(cleanRoot, v, scalarValueFromRows(df, v), comp,
        "0", conf))
    writeStatsSidecar(cleanRoot, schema, entries, conf)
    consolidate(cleanRoot, conf)
    open(cleanRoot)
  }

  /** Distributed DataFrame → Zarr v2 APPEND along one dimension: the
    * slab's rows scatter through [[GridWriter.writeVar]]'s one-shuffle
    * reverse pivot STRAIGHT onto the store-global chunk grid in a
    * staging tree beside the store (executors write the chunk files),
    * then every staged chunk renames into place, the growing
    * dimension's coordinate array and each growing variable's `.zarray`
    * shape are rewritten, and the tree re-consolidates — the
    * incremental-ingest path `df.write.format("zarr").mode("append")`
    * rides on. The existing extent need NOT be chunk-aligned: when the
    * old extent ends inside a chunk, the owning executor read-modify-
    * writes that edge chunk ([[EdgeMergeSink]]) exactly as xarray's
    * `to_zarr(append_dim=...)` does, and the result is byte-identical
    * to a one-shot write. Non-growing dims must carry identical
    * coordinates; the tree must use this writer's layout ("."
    * separators, v2 keys) and a plain little-endian C-order unpacked
    * encoding for every growing variable (anything else fails loudly
    * up front — staged chunks are encoded plain, and silently mixing
    * encodings inside one array corrupts it). Appended edge chunks pad
    * with NaN/0 like every other write. SINGLE WRITER per store:
    * staging is uniquely
    * suffixed, so a crashed append leaves an inert `.staging-*` tree —
    * plus, if the crash hit the commit phase of an UNALIGNED append,
    * at most a half-replaced edge chunk protected by a `.appendbak`
    * backup, which the next append's staging sweep restores (a reader
    * in between may see that one chunk as fill; nothing is lost). A
    * competing append that commits during staging is detected via a
    * metadata version stamp and aborts this append loudly.
    */
  def appendFromRows(df: org.apache.spark.sql.DataFrame,
      slabSchema: GridSchema, root: String,
      along: String): ZarrGridStore = {
    val conf = GridIO.driverConf()
    val cleanRoot = root.stripSuffix("/")
    if (GridIO.exists(s"$cleanRoot/zarr.json", conf))
      return ZarrV3.appendFromRows(df, slabSchema, cleanRoot, along)
    // optimistic concurrency key, captured BEFORE open reads the
    // store's metadata: a competing append that commits between the
    // stamp and the open merely aborts this one spuriously (retry),
    // never slips past the check
    val versionKey = GridIO.statusOf(s"$cleanRoot/$along/.zarray", conf)
    val existing = open(cleanRoot)
    val exDim = existing.schema.dim(along)
    val slabDim = slabSchema.dim(along)
    require(slabDim.size > 0, s"empty slab on $along")
    rejectOverlappingSlab(exDim, slabDim, along)
    existing.arrays.values.foreach { a =>
      require(a.keyPrefix.isEmpty && a.dimSep == ".",
        s"appendFromRows supports this writer's layouts only " +
          s"(${a.name} uses keyPrefix='${a.keyPrefix}' sep='${a.dimSep}')")
    }
    // non-growing dims must match coordinate-for-coordinate
    slabSchema.dims.filterNot(_.name == along).foreach { d =>
      val ex = existing.schema.dim(d.name)
      require(coordValues(ex.coords) == coordValues(d.coords),
        s"dim ${d.name} of the slab differs from the store")
    }
    val growing = slabSchema.vars.filter(_.dims.contains(along))
    require(growing.nonEmpty, s"no slab variable spans $along")
    // every STORE variable spanning the axis must grow with it, or the
    // tree's shapes would silently diverge from the coordinate array
    existing.schema.vars.filter(_.dims.contains(along)).foreach { sv =>
      require(growing.exists(_.name == sv.name),
        s"store variable ${sv.name} spans $along but is missing from " +
          "the slab")
    }
    growing.foreach { v =>
      val a = existing.arrays.getOrElse(v.name,
        throw new IllegalArgumentException(
          s"variable ${v.name} does not exist in the store"))
      require(a.dtype == v.dtype,
        s"${v.name}: slab dtype ${v.dtype} vs stored ${a.dtype}")
      // dims must match as an ORDERED list: the scatter keys and
      // C-orders chunks in the slab variable's own dim order, so a
      // permuted slab would silently write transposed data
      require(a.dims == v.dims,
        s"${v.name}: slab dims (${v.dims.mkString(",")}) must equal " +
          s"stored dims (${a.dims.mkString(",")})")
      // staged chunks are encoded plain little-endian, unfiltered,
      // C-order, unpacked, unscaled (string variables: the vlen-utf8
      // |O layout this writer emits) — reject trees declaring anything
      // else so a mismatch fails loudly instead of corrupting
      if (v.dtype == GString)
        require(a.stored.contains(StoredVlenStr) &&
          a.transposeOrder.isEmpty,
          s"${v.name}: append supports C-order vlen-utf8 string " +
            "layouts only")
      else
        require(!a.bigEndian && a.filters.isEmpty &&
          // µs time dtypes are THIS writer's own time layout — staged
          // chunks carry identical int64-µs payloads; any other stored
          // encoding would decode appended chunks as garbage
          (a.stored.isEmpty || a.stored.contains(StoredTime64(1L, 1L))) &&
          a.transposeOrder.isEmpty && !scaledVar(a),
          s"${v.name}: append supports plain little-endian C-order " +
            "unpacked unscaled layouts only")
    }

    GridIO.sweepStaging(cleanRoot, conf)
    val staging = cleanRoot + ".staging-" +
      java.util.UUID.randomUUID().toString.take(8)
    val globalSize = exDim.size + slabDim.size
    val newEntries = growing.flatMap { v =>
      GridIO.mkdirs(s"$staging/${v.name}", conf)
      val a = existing.arrays(v.name)
      val varChunks = v.dims.zip(a.chunkShape).toMap
      val axisPos = v.dims.indexOf(along)
      val alongChunk = a.chunkShape(axisPos)
      val edgeLen = exDim.size % alongChunk
      val base = GridWriter.ZarrSink(staging, v.dtype, a.chunkShape,
        a.compressor)
      val sink =
        if (edgeLen > 0) EdgeMergeSink(base, cleanRoot, a, axisPos,
          exDim.size / alongChunk, edgeLen)
        else base
      GridWriter.writeVar(df, slabSchema, varChunks, sink, v,
        globalAlong = Some((along, exDim.size, globalSize)))
    }
    appendTestHook(cleanRoot)
    checkNoConcurrentAppend(cleanRoot, staging,
      s"$cleanRoot/$along/.zarray", versionKey, conf)
    // stats sidecar: the open's StatsSource already indexes the
    // pre-append stats. fp-manifest sources verify the very bytes they
    // serve, so their lazy loads stay valid after the manifest
    // deletion below AND the merge can keep prefix shards unread (the
    // suffix-merge path) — for them the eager pre-force is skipped;
    // it would load O(var) shards and defeat the suffix bound. Legacy
    // sources (v2 manifests without fp) guard on the manifest key,
    // which the deletion invalidates: force-load the GROWING
    // variables' entries NOW or their stats would be lost. Either
    // way the manifest DELETES before any chunk moves — a crash
    // mid-commit leaves no manifest (per-var files unreachable, no
    // stats, sound) instead of stale bounds for the replaced edge
    // chunk.
    val oldSource = existing.statsSource
    oldSource match {
      case lp: StatsSource.LazyPerVar
          if growing.forall(v => lp.fpCovered(v.name)) => ()
      case _ => growing.foreach(v => oldSource.entriesFor(v.name))
    }
    GridIO.delete(s"$cleanRoot/$StatsSidecar", conf)
    // staged chunks already carry store-global keys; the shared commit
    // protocol (manifest + replaceWithBackup) makes the move crash-
    // healable and retry-idempotent — merged edge chunks and orphans
    // of a crashed earlier commit both replace safely
    GridIO.commitStaged(staging,
      growing.flatMap { v =>
        GridIO.listNames(s"$staging/${v.name}", conf).map(fn =>
          (s"$staging/${v.name}/$fn", s"$cleanRoot/${v.name}/$fn"))
      }, mkdirParents = false, conf)
    GridIO.delete(staging, conf)
    // grow the coordinate array: overwrite IN PLACE (single chunk "0"
    // + metadata) — no delete first, so there is no crash window where
    // the tree has no coordinate array at all. A stale extra chunk
    // file from a foreign multi-chunk coord is ignored by readers (the
    // rewritten .zarray declares one chunk).
    val combined = DimDef(along, concatCoords(exDim.coords, slabDim.coords),
      exDim.calendar, exDim.units, exDim.attrs)
    writeCoord(cleanRoot, combined, conf)
    growing.foreach { v =>
      val a = existing.arrays(v.name)
      val axisPos = v.dims.indexOf(along)
      val za = parseJson(GridIO.readAllBytes(
        s"$cleanRoot/${v.name}/.zarray", conf)).asInstanceOf[
        com.fasterxml.jackson.databind.node.ObjectNode]
      val sh = za.putArray("shape")
      a.shape.updated(axisPos, a.shape(axisPos) + slabDim.size)
        .foreach(sh.add)
      GridIO.writeString(s"$cleanRoot/${v.name}/.zarray",
        new ObjectMapper().writeValueAsString(za), conf)
    }
    // merged sidecar: untouched chunks keep their entries, the merged
    // edge chunk and new chunks take the append's recomputed stats
    // (same key -> the new entry wins)
    mergeStatsSidecar(cleanRoot, existing.schema, oldSource,
      newEntries, conf)
    consolidate(cleanRoot, conf)
    open(cleanRoot)
  }

  /** Rewrite the stats sidecar after an append: per TOUCHED variable,
    * old entries ++ new entries (new wins on the shared edge-chunk
    * key). Under format v2 only the growing variables' files are read
    * and rewritten — untouched variables' files stay on disk unread,
    * which is what keeps append O(slab), not O(tree), at 10⁸ chunks. A
    * v1 source (pre-v2 tree) migrates every variable to per-var files
    * here. Appending to a foreign tree that never had a sidecar still
    * creates one covering the appended chunks (partial coverage is
    * sound: absent keys serve no bounds).
    */
  private[grid] def mergeStatsSidecar(root: String, schema: GridSchema,
      old: StatsSource,
      newEntries: Seq[(String, Option[(Any, Any)], Option[Double])],
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    val touched = newEntries.map(_._1.split(" ", 2)(0)).toSet
    val threshold = conf.getInt(StatsShardEntriesKey,
      DefaultStatsShardEntries)
    val withFiles = Seq.newBuilder[(String, Option[String])]
    touched.toSeq.sorted.foreach { vn =>
      schema.vars.find(_.name == vn).foreach { v =>
        val prefix = vn + " "
        val news = newEntries.filter(_._1.startsWith(prefix))
        val replaced = news.map(_._1).toSet
        // SUFFIX merge for sharded variables: the slab's smallest
        // touched leading index bounds what can change; shards before
        // the (safety-stepped) cut stay on disk unread and re-enter
        // the manifest verbatim, so a tail append into a 10⁸-entry
        // variable loads and rewrites O(touched-suffix) stats, never
        // O(var). Falls back to the full load when the variable is
        // unsharded, counts are missing, the merged total could cross
        // below the shard threshold, or the suffix would empty out.
        val minLead = news.flatMap(
          _._1.split(" ", 2)(1).takeWhile(_ != '.').toLongOption)
          .minOption
        val suffixPath = (old, minLead) match {
          case (lp: StatsSource.LazyPerVar, Some(ml)) =>
            lp.suffixSplit(vn, ml).flatMap { case (pres, sufOld) =>
              val suffix = sufOld.filterNot(e => replaced(e._1)) ++ news
              val live = suffix.count(e => e._2.isDefined || e._3.isDefined)
              if (live == 0 ||
                  pres.map(_.n).sum + live <= threshold) None
              else Some((pres, suffix))
            }
          case _ => None
        }
        val written = suffixPath match {
          case Some((pres, suffix)) =>
            writeVarStats(root, v, suffix, conf, pres)
          case None =>
            val olds = old.entriesFor(vn).filterNot(e => replaced(e._1))
            writeVarStats(root, v, olds ++ news, conf)
        }
        written.foreach(fp => withFiles += vn -> Some(fp))
      }
    }
    val untouched = old.varNames -- touched
    old match {
      case lp: StatsSource.LazyPerVar =>
        // v2/v3 files already on disk, untouched — carry their
        // fingerprints forward unread (None only for pre-fp manifests,
        // where readers keep the coarse manifest-key guard)
        untouched.toSeq.sorted.foreach(vn =>
          withFiles += vn -> lp.fpOf(vn))
      case _ =>
        untouched.toSeq.sorted.foreach { vn =>
          schema.vars.find(_.name == vn).foreach { v =>
            writeVarStats(root, v, old.entriesFor(vn), conf).foreach(fp =>
              withFiles += vn -> Some(fp))
          }
        }
    }
    writeStatsManifest(root, withFiles.result(), conf)
  }

  /** In place on `arr` (flat C-order of shape `eff`): every position
    * whose `axisPos` index is below `edgeLen` takes the value of `old`
    * (flat C-order of the FULL `fullShape` — a decoded stored chunk,
    * padded per the v2/v3 rule). The merge half of an unaligned
    * append's read-modify-write: the slab's cells sit at axis index >=
    * `edgeLen`, the store's old cells below it — disjoint by
    * construction, so overlaying by index is exact.
    */
  private[grid] def overlayEdge(arr: AnyRef, old: AnyRef, eff: Array[Int],
      fullShape: Array[Int], axisPos: Int, edgeLen: Int): Unit = {
    val nd = eff.length
    val fullStride = ChunkAssembly.strides(fullShape)
    val effStride = ChunkAssembly.strides(eff)
    val innerRun = eff(nd - 1)
    // row iteration: odometer over dims 0..nd-2, arraycopy inner runs
    val pos = new Array[Int](nd)
    var rows = 1
    var k = 0
    while (k < nd - 1) { rows *= eff(k); k += 1 }
    var r = 0
    while (r < rows) {
      val runLen =
        if (axisPos == nd - 1) math.min(edgeLen, innerRun)
        else if (pos(axisPos) < edgeLen) innerRun
        else 0
      if (runLen > 0) {
        var srcOff = 0
        var dstOff = 0
        var d = 0
        while (d < nd - 1) {
          srcOff += pos(d) * fullStride(d)
          dstOff += pos(d) * effStride(d)
          d += 1
        }
        System.arraycopy(old, srcOff, arr, dstOff, runLen)
      }
      var j = nd - 2
      var carry = true
      while (carry && j >= 0) {
        pos(j) += 1
        if (pos(j) < eff(j)) carry = false
        else { pos(j) = 0; j -= 1 }
      }
      if (carry) r = rows else r += 1
    }
  }

  /** Sink wrapper for UNALIGNED appends — the read-modify-write xarray
    * performs in `to_zarr(append_dim=...)`: a staged chunk landing on
    * the store's partial edge chunk (the stored chunk the old extent
    * ends inside) first overlays the EXISTING cells (axis index <
    * `edgeLen`) decoded from the live store, then encodes through the
    * normal sink — so the re-written edge chunk carries old + new data
    * and is byte-identical to a one-shot write of the grown array. Runs
    * on the executor that owns the chunk (the scatter hashes each chunk
    * id to exactly one task), so the RMW is distributed: the driver
    * never touches cell data no matter how many edge chunks the
    * non-growing dims multiply out to. For sharded v3 arrays the stored
    * chunk is the whole SHARD — one decode + re-encode per edge shard,
    * the stored-file granularity any writer must pay there.
    */
  private[grid] final case class EdgeMergeSink(base: GridWriter.ChunkSink,
      root: String, a: ZarrArrayMeta, axisPos: Int, edgeChunk: Int,
      edgeLen: Int) extends GridWriter.ChunkSink {
    def write(varName: String, ciDotted: String, arr: AnyRef,
        eff: Array[Int],
        conf: org.apache.hadoop.conf.Configuration)
        : Seq[(String, Option[(Any, Any)], Option[Double])] = {
      val ci = ciDotted.split('.').map(_.toInt).toSeq
      if (ci(axisPos) == edgeChunk)
        overlayEdge(arr, readChunk(root, a, ci, conf), eff,
          a.chunkShape.toArray, axisPos, edgeLen)
      base.write(varName, ciDotted, arr, eff, conf)
    }
  }

  /** Test seam: runs after an append finishes staging, before the
    * conflict check + rename phase (lets a spec interleave a competing
    * append deterministically). No-op in production.
    */
  private[grid] var appendTestHook: String => Unit = _ => ()

  /** Best-effort guard on the SINGLE-WRITER append contract: the
    * version stamp captured at open must still match right before the
    * rename phase. A concurrent append that committed meanwhile
    * rewrote the coordinate metadata, so this append's staged chunks
    * were computed against a stale extent — renaming them would
    * interleave two appends' chunks into one tree. Fail loudly
    * instead: staging is deleted, the store stays untouched, the
    * caller retries against the new extent. (mtime granularity makes
    * this detection best-effort, not a serializability proof — the
    * contract is still one ingest job per store.)
    */
  private[grid] def checkNoConcurrentAppend(cleanRoot: String,
      staging: String, versionPath: String,
      expected: Option[(Long, Long)],
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    val now = GridIO.statusOf(versionPath, conf)
    if (now != expected) {
      GridIO.delete(staging, conf)
      throw new java.util.ConcurrentModificationException(
        s"concurrent append detected on $cleanRoot ($versionPath " +
          s"changed during staging: $expected -> $now); this append " +
          "was aborted and the store is untouched — retry against the " +
          "new extent")
    }
  }

  /** Appending a slab whose `along` coordinates overlap the store
    * would silently DUPLICATE axis labels (the coordinate array just
    * concatenates) and double-count those steps in every later scan —
    * both zarr append faces call this to reject it. Compares internal values, so no
    * external-box mismatch can slip an overlap through.
    */
  private[grid] def rejectOverlappingSlab(exDim: DimDef, slabDim: DimDef,
      along: String): Unit = {
    val have = coordValues(exDim.coords).toSet
    val dup = coordValues(slabDim.coords).filter(have)
    require(dup.isEmpty,
      s"slab $along coordinates overlap the store " +
        s"(${dup.take(3).mkString(", ")}${if (dup.size > 3) ", ..." else ""})" +
        " — duplicate axis labels would double-count those steps")
  }

  private[grid] def coordValues(c: CoordArray): Seq[Any] = c match {
    case DoubleCoords(v) => v.toSeq
    case FloatCoords(v) => v.toSeq
    case IntCoords(v) => v.toSeq
    case LongCoords(v) => v.toSeq
    case TimeCoords(v) => v.toSeq
    case DurationCoords(v) => v.toSeq
    case StringCoords(v) => v.toSeq
  }

  private[grid] def concatCoords(a: CoordArray, b: CoordArray): CoordArray =
    (a, b) match {
      case (DoubleCoords(x), DoubleCoords(y)) => DoubleCoords(x ++ y)
      case (FloatCoords(x), FloatCoords(y)) => FloatCoords(x ++ y)
      case (IntCoords(x), IntCoords(y)) => IntCoords(x ++ y)
      case (LongCoords(x), LongCoords(y)) => LongCoords(x ++ y)
      case (TimeCoords(x), TimeCoords(y)) => TimeCoords(x ++ y)
      case (DurationCoords(x), DurationCoords(y)) => DurationCoords(x ++ y)
      case (StringCoords(x), StringCoords(y)) => StringCoords(x ++ y)
      case other => throw new IllegalArgumentException(
        s"cannot concatenate coordinate kinds $other")
    }

  /** Write `<root>/.zmetadata` (the zarr v2 consolidated-metadata
    * convention, `zarr_consolidated_format: 1`) from the tree's current
    * metadata files, so every later [[open]] costs ONE metadata round
    * trip. Run once after writing/mutating a tree; [[write]] does it
    * automatically. Also retrofits trees produced by other writers.
    */
  def consolidate(root: String): Unit =
    consolidate(root.stripSuffix("/"), GridIO.driverConf())

  def consolidate(root: String,
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    val cleanRoot = root.stripSuffix("/")
    val mapper = new ObjectMapper()
    val top = mapper.createObjectNode()
    top.put("zarr_consolidated_format", 1)
    val meta = top.putObject("metadata")
    def add(rel: String): Unit = {
      val p = s"$cleanRoot/$rel"
      if (GridIO.exists(p, conf))
        meta.set[JsonNode](rel, parseJson(GridIO.readAllBytes(p, conf)))
    }
    add(".zgroup")
    add(".zattrs")
    GridIO.listNames(cleanRoot, conf).filterNot(_.startsWith("."))
      .sorted.foreach { n => add(s"$n/.zarray"); add(s"$n/.zattrs") }
    require(meta.has(".zgroup"), s"not a Zarr v2 group: $cleanRoot")
    GridIO.writeString(s"$cleanRoot/.zmetadata",
      mapper.writeValueAsString(top), conf)
  }

  /** Encode one dimension's coordinate payload + the attrs that tell a
    * reader how to decode it (CF units/calendar for time-kinds). Shared
    * by the v2 and v3 writers.
    */
  private[grid] def coordPayload(
      d: DimDef): (AnyRef, GridType, Map[String, String]) =
    d.coords match {
      case DoubleCoords(v) => (v, GDouble, Map.empty[String, String])
      case FloatCoords(v) => (v, GFloat, Map.empty[String, String])
      case IntCoords(v) => (v, GInt, Map.empty[String, String])
      case LongCoords(v) =>
        // non-Gregorian CF offsets carry their units/calendar through
        val cf = d.calendar.map(c =>
          Map("calendar" -> c, "units" -> d.units.getOrElse(
            throw new IllegalArgumentException(
              s"${d.name}: calendar without units")))).getOrElse(Map.empty)
        (v, GLong, cf)
      case TimeCoords(v) =>
        (v, GLong, Map(
          "units" -> "microseconds since 1970-01-01",
          "calendar" -> "proleptic_gregorian"))
      case DurationCoords(v) =>
        (v, GLong, Map("units" -> "microseconds"))
      case StringCoords(_) => throw new IllegalArgumentException(
        s"${d.name}: string coordinates unsupported in Zarr stores")
    }

  private def writeCoord(root: String, d: DimDef,
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    val dir = s"$root/${d.name}"
    GridIO.mkdirs(dir, conf)
    val n = d.size
    d.coords match {
      case StringCoords(vs) =>
        // fixed-width UTF-32 ("<U<n>", numpy's unicode layout): what
        // xarray writes for string coordinate arrays
        val nchars = math.max(1,
          vs.map(s0 => s0.codePointCount(0, s0.length))
            .foldLeft(0)(math.max))
        GridIO.writeString(s"$dir/.zarray",
          zarrayJson(Seq(n), Seq(math.max(n, 1)), s"<U$nchars", None,
            "null"), conf)
        GridIO.writeString(s"$dir/.zattrs",
          attrsJson(d.attrs, Some(Seq(d.name))), conf)
        if (n > 0) {
          val bb = ByteBuffer.allocate(n * nchars * 4)
            .order(ByteOrder.LITTLE_ENDIAN)
          vs.foreach { s0 =>
            var written = 0
            var i = 0
            while (i < s0.length) {
              val cp = s0.codePointAt(i)
              bb.putInt(cp)
              written += 1
              i += Character.charCount(cp)
            }
            while (written < nchars) { bb.putInt(0); written += 1 }
          }
          GridIO.write(s"$dir/0", bb.array(), conf)
        }
        return
      case _ => ()
    }
    val (data, dtype, extraAttrs) = coordPayload(d)
    GridIO.writeString(s"$dir/.zarray", zarrayJson(Seq(n), Seq(math.max(n, 1)),
      dtypeString(dtype), None, "null"), conf)
    GridIO.writeString(s"$dir/.zattrs",
      attrsJson(d.attrs ++ extraAttrs, Some(Seq(d.name))), conf)
    if (n > 0) GridIO.write(s"$dir/0", toLE(data, dtype), conf)
  }

  /** `none | zlib[:level] | gzip[:level] | zstd[:level] |
    * blosc[:cname][:clevel][:bit|:byte|:noshuffle]` — the blosc tokens
    * may appear in any order after `blosc` (cname defaults to lz4,
    * clevel to numcodecs' 5, filter to byte-shuffle). Blosc configs
    * carry cname/filter inside the id string (`blosc/<cname>/<mode>`)
    * so the (id, level) tuple flows through every write path unchanged;
    * readers never need the config — the container self-describes.
    */
  private[grid] def parseCompressor(s: String): Option[(String, Int)] =
    s.split(":").toSeq match {
      case Seq("none") => None
      case "blosc" +: rest =>
        var cname = "lz4"
        var lvl = 5 // numcodecs default clevel
        var mode = "byte"
        rest.foreach {
          case t if t.nonEmpty && t.forall(_.isDigit) => lvl = t.toInt
          case t if Set("blosclz", "lz4", "lz4hc", "zstd", "zlib",
            "snappy")(t) => cname = t
          case "bit" | "bitshuffle" => mode = "bit"
          case "byte" | "shuffle" => mode = "byte"
          case "noshuffle" => mode = "none"
          case other => throw new IllegalArgumentException(
            s"bad blosc option '$other' in compressor '$s'")
        }
        Some((s"blosc/$cname/$mode", lvl))
      case Seq(id) if Set("zlib", "gzip", "zstd")(id) => Some((id, 1))
      case Seq(id, lvl) if Set("zlib", "gzip", "zstd")(id) =>
        Some((id, lvl.toInt))
      case _ => throw new IllegalArgumentException(
        s"bad compressor '$s' (none | zlib[:level] | gzip[:level] | " +
          "zstd[:level] | blosc[:cname][:clevel][:bit|:byte|:noshuffle])")
    }

  /** Inverse of [[parseCompressor]] for a v3 writer: the compressor
    * string that re-encodes with the same codec and level. v3 has no
    * `zlib` codec, so zlib maps to `gzip` (the same DEFLATE stream).
    */
  private[graft] def compressorSpec(comp: Option[(String, Int)]): String =
    comp match {
      case None => "none"
      case Some((id, lvl)) if id.startsWith("blosc") =>
        val parts = id.split("/")
        val cname = if (parts.length > 1) parts(1) else "lz4"
        val mode =
          if (parts.length > 2 && parts(2) == "none") "noshuffle"
          else if (parts.length > 2) parts(2) else "byte"
        s"blosc:$cname:$lvl:$mode"
      case Some(("zlib", lvl)) => s"gzip:$lvl"
      case Some((id, lvl)) => s"$id:$lvl"
    }

  /** (cname, shuffle mode) of a `blosc/<cname>/<mode>` id (defaults for
    * the bare "blosc" id).
    */
  private[grid] def bloscConfig(id: String): (String, Int) = {
    val parts = id.split("/")
    val cname = if (parts.length > 1) parts(1) else "lz4"
    val mode =
      if (parts.length > 2) parts(2) match {
        case "bit" => Blosc.ShuffleBit
        case "none" => Blosc.ShuffleNone
        case _ => Blosc.ShuffleByte
      } else Blosc.ShuffleByte
    (cname, mode)
  }

  private def dtypeString(t: GridType): String = t match {
    case GDouble => "<f8"
    case GFloat => "<f4"
    case GInt => "<i4"
    case GLong => "<i8"
    // time-kind DATA variables keep their time-ness through a round
    // trip via numpy's own dtypes (µs payload = the engine's internal
    // unit); TIME COORDS still write CF (int64 + units) via
    // coordPayload, which is what xarray emits for axes
    case GTimestamp => "<M8[us]"
    case GDuration => "<m8[us]"
    case GString => "|O" // data variables; string COORDS write as <U
  }

  private def zarrayJson(shape: Seq[Int], chunks: Seq[Int], dtype: String,
      comp: Option[(String, Int)], fillJson: String,
      filtersJson: String = "null"): String = {
    val compJson = comp match {
      case None => "null"
      case Some((id, lvl)) if id.startsWith("blosc") =>
        // numcodecs-compatible spelling: what zarr-python round-trips
        val (cname, mode) = bloscConfig(id)
        s"""{"id":"blosc","cname":"$cname","clevel":$lvl,""" +
          s""""shuffle":$mode,"blocksize":0}"""
      case Some((id, lvl)) => s"""{"id":"$id","level":$lvl}"""
    }
    s"""{"zarr_format":2,"shape":[${shape.mkString(",")}],""" +
      s""""chunks":[${chunks.mkString(",")}],"dtype":"$dtype",""" +
      s""""compressor":$compJson,"fill_value":$fillJson,""" +
      s""""order":"C","filters":$filtersJson}"""
  }

  private def attrsJson(attrs: Map[String, String],
      dims: Option[Seq[String]] = None): String = {
    val mapper = new ObjectMapper()
    val node = mapper.createObjectNode()
    dims.foreach { ds =>
      val arr = node.putArray("_ARRAY_DIMENSIONS")
      ds.foreach(arr.add)
    }
    attrs.toSeq.sortBy(_._1).foreach { case (k, v) => node.put(k, v) }
    mapper.writeValueAsString(node)
  }

  /** Pad one effective (boundary-clipped) chunk payload to the full
    * chunk shape with the written fill (NaN/0) — the v2 stored-chunk
    * rule. Returns `data` untouched when the chunk is interior.
    */
  private[grid] def padChunk(data: AnyRef, eff: Array[Int], full: Array[Int],
      dtype: GridType): AnyRef = {
    if (eff.sameElements(full)) return data
    val out = fillArray(dtype,
      dtype match { case GDouble | GFloat => Double.NaN case _ => 0.0 },
      full.product)
    val effStride = ChunkAssembly.strides(eff)
    val fullStride = ChunkAssembly.strides(full)
    val nd = eff.length
    val run = eff(nd - 1)
    val pos = new Array[Int](nd)
    var copying = true
    while (copying) {
      var srcOff = 0
      var dstOff = 0
      var k = 0
      while (k < nd) {
        srcOff += pos(k) * effStride(k)
        dstOff += pos(k) * fullStride(k)
        k += 1
      }
      System.arraycopy(data, srcOff, out, dstOff, run)
      var j = nd - 2
      var carry = true
      while (carry && j >= 0) {
        pos(j) += 1
        if (pos(j) < eff(j)) carry = false
        else { pos(j) = 0; j -= 1 }
      }
      if (carry) copying = false
    }
    out
  }

  private[grid] def toLE(data: AnyRef, dtype: GridType): Array[Byte] = {
    val n = java.lang.reflect.Array.getLength(data)
    val bb = ByteBuffer.allocate(n * dtype.byteWidth)
      .order(ByteOrder.LITTLE_ENDIAN)
    data match {
      case a: Array[Double] => bb.asDoubleBuffer().put(a)
      case a: Array[Float] => bb.asFloatBuffer().put(a)
      case a: Array[Int] => bb.asIntBuffer().put(a)
      case a: Array[Long] => bb.asLongBuffer().put(a)
    }
    bb.array()
  }

  private[grid] def compress(bytes: Array[Byte], comp: Option[(String, Int)],
      typesize: Int): Array[Byte] = comp match {
    case None => bytes
    case Some((id, lvl)) if id.startsWith("blosc") =>
      val (cname, mode) = bloscConfig(id)
      Blosc.compressMode(bytes, typesize, cname, lvl, mode)
    case Some(("zstd", lvl)) =>
      com.github.luben.zstd.Zstd.compress(bytes, lvl)
    case Some(("zlib", lvl)) =>
      val d = new java.util.zip.Deflater(lvl)
      try {
        d.setInput(bytes); d.finish()
        val buf = new Array[Byte](math.max(64, bytes.length + 64))
        val out = new java.io.ByteArrayOutputStream()
        while (!d.finished()) out.write(buf, 0, d.deflate(buf))
        out.toByteArray
      } finally d.end()
    case Some(("gzip", _)) =>
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(bytes); g.close()
      bos.toByteArray
    case Some((other, _)) =>
      throw new IllegalArgumentException(s"unsupported compressor $other")
  }
}
