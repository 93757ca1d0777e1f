package graft.grid

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

import scala.jdk.CollectionConverters._

/** Zarr v3 interop (zarr-specs v3, a public format) — the layout the
  * reference's README primary example opens (`.zarr-v3` tree,
  * reference README.md:76-77) and where the ecosystem is moving.
  * Parses `zarr.json` node metadata into the same [[ZarrArrayMeta]] the
  * v2 reader uses, so chunk assembly, pruning, projection pushdown and
  * stats all work unchanged; [[ZarrGridStore.open]] auto-detects the
  * version, so callers never care which they were handed.
  *
  * Layout understood:
  *
  * {{{
  * <root>/zarr.json            # {"zarr_format":3,"node_type":"group",
  *                             #  "attributes":{...},
  *                             #  "consolidated_metadata":{...}?}
  * <root>/<array>/zarr.json    # node_type "array": shape, data_type,
  *                             #  regular chunk_grid, chunk_key_encoding,
  *                             #  fill_value, codecs, dimension_names
  * <root>/<array>/c/<i>/<j>    # chunks ("default" key encoding; "v2"
  *                             #  keys `<i>.<j>` also understood)
  * }}}
  *
  * Supported: data_types float32/float64/int32/int64 (+ packed ints,
  * float16); codec pipelines `bytes` (either endian) followed by at
  * most one of `gzip`, `zstd`, `blosc` (via the pure-JVM [[Blosc]]
  * codec — all cnames incl. blosclz, byte- and bit-shuffle);
  * `sharding_indexed` with inner-chunk-granular ranged reads;
  * `transpose` (stored-axis permutation, inverted at decode);
  * vlen-utf8 string arrays; checksum codecs rejected; edge chunks
  * stored padded to the full chunk shape (same rule as v2); missing
  * chunk files read as `fill_value`; `dimension_names` required (the
  * v3-native spelling of the xarray `_ARRAY_DIMENSIONS` convention);
  * CF time attributes decode through the same calendar bridge.
  *
  * Opens cost ONE metadata read when the root `zarr.json` embeds
  * zarr-python's inline `consolidated_metadata`; otherwise a listing
  * plus one read per array. [[write]] emits consolidated metadata plus
  * per-array `zarr.json` files, so both this reader and standard v3
  * readers open its output.
  */
object ZarrV3 {

  // ---- open ----------------------------------------------------------

  def open(root: String): ZarrGridStore =
    open(root, new SerializableHadoopConf(GridIO.driverConf()))

  def open(root: String, hconf: SerializableHadoopConf): ZarrGridStore = {
    val conf = hconf.value
    val cleanRoot = root.stripSuffix("/")
    val rootMeta = ZarrGridStore.parseJson(
      GridIO.readAllBytes(s"$cleanRoot/zarr.json", conf))
    require(rootMeta.path("zarr_format").asInt(0) == 3,
      s"unsupported zarr_format ${rootMeta.path("zarr_format")} in " +
        s"$cleanRoot/zarr.json")
    require(rootMeta.path("node_type").asText("") == "group",
      s"$cleanRoot/zarr.json is not a group node")
    val consolidated = rootMeta.path("consolidated_metadata").path("metadata")
    val metas: Map[String, ZarrArrayMeta] =
      if (consolidated.isObject) {
        val arrayEntries = consolidated.properties().asScala.toSeq
          .filter(_.getValue.path("node_type").asText("") == "array")
        // nested keys belong to SUBGROUPS (each openable as its own
        // root, by path or the provider's `group` option); the root
        // dataset is the root-level arrays — xarray's open_zarr(root)
        val (nested, rootLevel) = arrayEntries.partition(
          _.getKey.contains("/"))
        if (rootLevel.isEmpty && nested.nonEmpty) {
          val groups = nested.map(_.getKey.takeWhile(_ != '/'))
            .distinct.sorted
          throw new IllegalArgumentException(
            s"no arrays at the root of $cleanRoot; tree has subgroups " +
              s"(${groups.mkString(", ")}) — open one via " +
              ".option(\"group\", <name>) or the subgroup path")
        }
        rootLevel.map(e =>
          e.getKey -> parseArrayNode(e.getKey, e.getValue)).toMap
      } else {
        // listing fallback: children with zarr.json are arrays OR
        // subgroups — parse arrays, collect group names for the error
        val children = GridIO.listNames(cleanRoot, conf)
          .filterNot(_.startsWith("."))
          .filter(n => GridIO.exists(s"$cleanRoot/$n/zarr.json", conf))
          .sorted.map { n =>
            n -> ZarrGridStore.parseJson(
              GridIO.readAllBytes(s"$cleanRoot/$n/zarr.json", conf))
          }
        val (groups, arrays) = children.partition(
          _._2.path("node_type").asText("") == "group")
        if (arrays.isEmpty && groups.nonEmpty)
          throw new IllegalArgumentException(
            s"no arrays at the root of $cleanRoot; tree has subgroups " +
              s"(${groups.map(_._1).mkString(", ")}) — open one via " +
              ".option(\"group\", <name>) or the subgroup path")
        arrays.map { case (n, node) => n -> parseArrayNode(n, node) }.toMap
      }
    require(metas.nonEmpty, s"no arrays under $cleanRoot")
    val dsAttrs = attrsOf(rootMeta)
    ZarrGridStore.assemble(cleanRoot, metas, dsAttrs, hconf)
  }

  private def attrsOf(node: JsonNode): Map[String, String] = {
    val a = node.path("attributes")
    if (a.isObject) ZarrGridStore.attrMap(a) else Map.empty
  }

  private def parseArrayNode(name: String, node: JsonNode): ZarrArrayMeta = {
    require(node.path("zarr_format").asInt(0) == 3,
      s"$name: unsupported zarr_format")
    require(node.path("node_type").asText("") == "array",
      s"$name: not an array node")
    val shape = node.path("shape").elements().asScala.map(_.asInt()).toSeq
    val cg = node.path("chunk_grid")
    require(cg.path("name").asText("") == "regular",
      s"$name: only regular chunk grids supported " +
        s"(got '${cg.path("name").asText("")}')")
    val chunkShape = cg.path("configuration").path("chunk_shape")
      .elements().asScala.map(_.asInt()).toSeq
    // shape [] = a 0-d SCALAR array (xarray scalar variables)
    require(chunkShape.length == shape.length,
      s"$name: bad shape/chunk_shape")
    require(chunkShape.forall(_ > 0) && shape.forall(_ >= 0),
      s"$name: non-positive chunk extent")
    val dtNode = node.path("data_type")
    // zarr-python 3 writes numpy time dtypes as EXTENSION objects:
    // {"name":"numpy.datetime64","configuration":{"unit":"ns",
    //  "scale_factor":1}}; the bare "datetime64[ns]" string spelling is
    // also accepted. Both decode to µs (GTimestamp/GDuration).
    def timeStored(unit: String, sf: Int): StoredElem = {
      require(sf == 1,
        s"$name: datetime64 scale_factor $sf unsupported (1 only)")
      val (num, den) = ZarrGridStore.m8Scale(unit)
      StoredTime64(num, den)
    }
    val m8Str = raw"(datetime64|timedelta64)\[(ns|us|ms|s|m|h|D|W)\]".r
    val (dtype, stored): (GridType, Option[StoredElem]) =
      if (dtNode.isObject) {
        val cfg = dtNode.path("configuration")
        val st = timeStored(cfg.path("unit").asText(""),
          cfg.path("scale_factor").asInt(1))
        dtNode.path("name").asText("") match {
          case "numpy.datetime64" => (GTimestamp, Some(st))
          case "numpy.timedelta64" => (GDuration, Some(st))
          case other => throw new IllegalArgumentException(
            s"$name: unsupported extension data_type '$other'")
        }
      } else dtNode.asText("") match {
        case "float64" => (GDouble, None)
        case "float32" => (GFloat, None)
        case "int32" => (GInt, None)
        case "int64" => (GLong, None)
        case "int8" => (GInt, Some(StoredInt(1, signed = true)))
        case "uint8" => (GInt, Some(StoredInt(1, signed = false)))
        // numpy bool (mask variables): one byte 0/1, uint8's layout
        case "bool" => (GInt, Some(StoredInt(1, signed = false)))
        case "int16" => (GInt, Some(StoredInt(2, signed = true)))
        case "uint16" => (GInt, Some(StoredInt(2, signed = false)))
        case "uint32" => (GLong, Some(StoredInt(4, signed = false)))
        // long-width with a loud per-value overflow check past Long.Max
        case "uint64" => (GLong, Some(StoredInt(8, signed = false)))
        case "float16" => (GFloat, Some(StoredHalf))
        // zarr-python 3's default for string arrays (vlen-utf8 chunks)
        case "string" => (GString, Some(StoredVlenStr))
        case m8Str(kind, unit) =>
          (if (kind == "datetime64") GTimestamp else GDuration,
            Some(timeStored(unit, 1)))
        case other => throw new IllegalArgumentException(
          s"$name: unsupported data_type '$other' (float16/float32/" +
            "float64/int32/int64/int8/int16/uint8/uint16/uint32/uint64/" +
            "bool/datetime64[..]/timedelta64[..]/string only)")
      }
    val (keyPrefix, sep) = {
      val cke = node.path("chunk_key_encoding")
      val enc = if (cke.isMissingNode || cke.isNull) "default"
        else cke.path("name").asText("default")
      val cfgSep = cke.path("configuration").path("separator")
      enc match {
        case "default" => ("c", if (cfgSep.isTextual) cfgSep.asText else "/")
        case "v2" => ("", if (cfgSep.isTextual) cfgSep.asText else ".")
        case other => throw new IllegalArgumentException(
          s"$name: unsupported chunk_key_encoding '$other'")
      }
    }
    require(sep == "." || sep == "/", s"$name: bad separator '$sep'")
    val isVlen = stored.contains(StoredVlenStr)
    val fill: Double = node.path("fill_value") match {
      case f if f == null || f.isNull || f.isMissingNode => Double.NaN
      case _ if isVlen => Double.NaN // string fills parse below
      case f if f.isNumber => f.asDouble()
      // zarr-python writes JSON true/false for bool arrays
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
    val stringFill: String = node.path("fill_value") match {
      case f if isVlen && f.isTextual => f.asText()
      case _ => ""
    }
    // codecs: a simple bytes[+compressor] pipeline, a vlen-utf8
    // [+compressor] pipeline for string arrays, or a single
    // sharding_indexed codec wrapping an inner pipeline + chunk index
    val codecs = node.path("codecs")
    require(codecs.isArray && codecs.size() >= 1,
      s"$name: codecs pipeline required")
    val sharded = codecs.get(0).path("name").asText("") == "sharding_indexed"
    val (bigEndian, compressor, sharding, transpose) =
      if (isVlen && !sharded) {
        (false, parseVlenPipeline(name, codecs), None, None)
      } else if (!sharded) {
        val (be, comp, tr) = parsePipeline(name, codecs)
        (be, comp, None, tr)
      } else {
        require(codecs.size() == 1,
          s"$name: sharding_indexed must be the only codec")
        val cfg = codecs.get(0).path("configuration")
        val innerShape = cfg.path("chunk_shape")
          .elements().asScala.map(_.asInt()).toSeq
        require(innerShape.length == shape.length,
          s"$name: inner chunk_shape rank mismatch")
        (shape.indices).foreach { d =>
          require(innerShape(d) > 0 && chunkShape(d) % innerShape(d) == 0,
            s"$name: inner chunk shape ${innerShape.mkString("x")} must " +
              s"evenly divide the shard shape ${chunkShape.mkString("x")}")
        }
        // a sharded string array's inner pipeline is the vlen one —
        // variable-size inner frames are exactly what the shard's
        // (offset, nbytes) index was made for
        val (iBig, iComp) =
          if (isVlen) {
            val innerCodecs = cfg.path("codecs")
            require(innerCodecs.isArray && innerCodecs.size() >= 1,
              s"$name: inner codecs pipeline required")
            (false, parseVlenPipeline(s"$name (inner)", innerCodecs))
          } else {
            val (b, c, iTr) = parsePipeline(s"$name (inner)",
              cfg.path("codecs"))
            require(iTr.isEmpty,
              s"$name: transpose inside a shard pipeline unsupported")
            (b, c)
          }
        // index pipeline: bytes (little, the spec'd uint64 layout) with
        // optional crc32c framing — the zarr-python default
        var crc = false
        val idxCodecs = cfg.path("index_codecs")
        if (idxCodecs.isArray) idxCodecs.elements().asScala.foreach { c =>
          c.path("name").asText("") match {
            case "bytes" =>
              require(c.path("configuration").path("endian")
                .asText("little") == "little",
                s"$name: shard index must be little-endian")
            case "crc32c" => crc = true
            case other => throw new IllegalArgumentException(
              s"$name: unsupported index codec '$other'")
          }
        } else crc = true // spec default: [bytes, crc32c]
        val atEnd = cfg.path("index_location").asText("end") match {
          case "end" => true
          case "start" => false
          case other => throw new IllegalArgumentException(
            s"$name: bad index_location '$other'")
        }
        (false, None,
          Some(ShardMeta(innerShape, iBig, iComp, atEnd, crc)), None)
      }
    transpose.foreach { o =>
      require(o.sorted == (0 until shape.length),
        s"$name: transpose order ${o.mkString("[", ",", "]")} is not a " +
          s"permutation of 0..${shape.length - 1}")
    }
    val dims = node.path("dimension_names") match {
      case d if d.isArray => d.elements().asScala.map(_.asText()).toSeq
      case _ if shape.isEmpty => Seq.empty // 0-d scalar: no axes
      case _ => throw new IllegalArgumentException(
        s"$name: missing dimension_names; cannot infer axis names")
    }
    require(dims.length == shape.length,
      s"$name: ${dims.length} dim names for ${shape.length}-d array")
    ZarrArrayMeta(name, shape, chunkShape, dtype, bigEndian, compressor,
      fill, sep, dims, attrsOf(node), keyPrefix, sharding, stored,
      stringFill = stringFill,
      transposeOrder = transpose.filter(_ != (0 until shape.length)))
  }

  /** A string array's pipeline: the `vlen-utf8` codec first, then at
    * most one supported compressor (zarr-python appends its default
    * compressor after the vlen codec).
    */
  private def parseVlenPipeline(name: String,
      codecs: JsonNode): Option[(String, Int)] = {
    require(codecs.get(0).path("name").asText("") == "vlen-utf8",
      s"$name: string arrays must lead with the vlen-utf8 codec " +
        s"(got '${codecs.get(0).path("name").asText("")}')")
    var compressor: Option[(String, Int)] = None
    codecs.elements().asScala.drop(1).foreach { c =>
      val cfg = c.path("configuration")
      c.path("name").asText("") match {
        case "gzip" =>
          requireOneCompressor(name, compressor)
          compressor = Some(("gzip", cfg.path("level").asInt(5)))
        case "zstd" =>
          requireOneCompressor(name, compressor)
          compressor = Some(("zstd", cfg.path("level").asInt(0)))
        case "blosc" =>
          requireOneCompressor(name, compressor)
          compressor = Some(parseBloscCodec(name, cfg))
        case other => throw new IllegalArgumentException(
          s"$name: unsupported codec '$other' after vlen-utf8")
      }
    }
    compressor
  }

  /** A simple v3 pipeline: optional `transpose` (array->array, must
    * precede `bytes`), one `bytes` codec (endianness), at most one
    * supported compressor. Shared by top-level and shard-inner codecs
    * (the caller rejects transpose inside shards).
    */
  private def parsePipeline(name: String, codecs: JsonNode)
      : (Boolean, Option[(String, Int)], Option[Seq[Int]]) = {
    require(codecs.isArray && codecs.size() >= 1,
      s"$name: codecs pipeline required")
    var bigEndian = false
    var sawBytes = false
    var compressor: Option[(String, Int)] = None
    var transpose: Option[Seq[Int]] = None
    codecs.elements().asScala.foreach { c =>
      val cfg = c.path("configuration")
      c.path("name").asText("") match {
        case "transpose" =>
          require(!sawBytes && transpose.isEmpty && compressor.isEmpty,
            s"$name: transpose must be the first (array->array) codec")
          val o = cfg.path("order")
          require(o.isArray, s"$name: transpose needs an order array")
          transpose = Some(o.elements().asScala.map(_.asInt()).toSeq)
        case "bytes" =>
          require(!sawBytes, s"$name: duplicate bytes codec")
          sawBytes = true
          bigEndian = cfg.path("endian").asText("little") == "big"
        case "gzip" =>
          requireOneCompressor(name, compressor)
          compressor = Some(("gzip", cfg.path("level").asInt(5)))
        case "zstd" =>
          requireOneCompressor(name, compressor)
          compressor = Some(("zstd", cfg.path("level").asInt(0)))
        case "blosc" =>
          requireOneCompressor(name, compressor)
          compressor = Some(parseBloscCodec(name, cfg))
        case "sharding_indexed" => throw new IllegalArgumentException(
          s"$name: nested sharding unsupported")
        case other => throw new IllegalArgumentException(
          s"$name: unsupported codec '$other'")
      }
    }
    require(sawBytes, s"$name: codecs pipeline must include 'bytes'")
    (bigEndian, compressor, transpose)
  }

  private def requireOneCompressor(name: String,
      cur: Option[(String, Int)]): Unit =
    require(cur.isEmpty,
      s"$name: at most one compression codec supported in the pipeline")

  /** A v3 blosc codec config -> the `blosc/<cname>/<mode>` id form.
    * Decode needs none of this (the container self-describes codec and
    * shuffle filter), but carrying the declared config in the id lets
    * appends re-encode new chunks to match the tree instead of the
    * writer's defaults; the cname is validated to fail fast at open.
    */
  private def parseBloscCodec(name: String,
      cfg: JsonNode): (String, Int) = {
    val cname = cfg.path("cname").asText("lz4")
    require(
      Set("blosclz", "lz4", "lz4hc", "zstd", "zlib", "snappy")(cname),
      s"$name: blosc cname '$cname' has no JVM implementation")
    val mode = cfg.path("shuffle").asText("shuffle") match {
      case "noshuffle" => "none"
      case "bitshuffle" => "bit"
      case _ => "byte"
    }
    (s"blosc/$cname/$mode", cfg.path("clevel").asInt(5))
  }

  // ---- write ---------------------------------------------------------

  /** Materialize `source` as a Zarr v3 tree (default chunk-key
    * encoding, little-endian `bytes` codec, consolidated metadata
    * inlined in the root `zarr.json` AND per-array `zarr.json` files)
    * and re-open it. `compressor`: `none | gzip[:level] | zstd[:level]
    * | blosc[:clevel]` (v3 has no zlib codec).
    *
    * `shardInner` non-empty turns on `sharding_indexed` for the data
    * variables: the `chunks` grid becomes the SHARD (stored-file) grid
    * and `shardInner` the inner chunk sizes within each shard (dims
    * omitted there default to the full shard extent). Inner chunks are
    * compressed individually; the index (little-endian uint64 pairs,
    * crc32c-framed) sits at the shard end — the zarr-python default
    * framing. Sharding keeps the stored-file count low (one object per
    * shard) while preserving sub-chunk read granularity for readers
    * that fetch ranges.
    */
  def write(source: GridStore, root: String, chunks: Map[String, Int],
      compressor: String = "zstd",
      shardInner: Map[String, Int] = Map.empty): ZarrGridStore =
    writeImpl(source, root, chunks, compressor, shardInner,
      distributed = false)

  /** [[write]] with EXECUTOR-side chunk/shard encoding and writes (the
    * driver keeps only metadata + coordinates) — same scale rationale
    * as [[ZarrGridStore.writeDistributed]]; shard encoding is the
    * expensive part here (per-inner-chunk compression + index), so it
    * is exactly what should not run in a driver loop.
    */
  def writeDistributed(source: GridStore, root: String,
      chunks: Map[String, Int], compressor: String = "zstd",
      shardInner: Map[String, Int] = Map.empty): ZarrGridStore =
    writeImpl(source, root, chunks, compressor, shardInner,
      distributed = true)

  /** One v3 data chunk (or shard): read, pad, encode, write; returns
    * the chunk's sidecar stats entry (None for shards — the scan plans
    * on the inner grid).
    */
  private final case class V3ChunkTask(dir: String, varName: String,
      dtype: GridType, chunkSz: Seq[Int], innerSz: Option[Seq[Int]],
      block: Seq[(Int, Int)]) extends Serializable {
    def run(source: GridStore, comp: Option[(String, Int)],
        conf: org.apache.hadoop.conf.Configuration)
        : Seq[(String, Option[(Any, Any)], Option[Double])] = {
      val ci = block.zip(chunkSz).map(b => b._1._1 / b._2)
      val eff = block.map(_._2).toArray
      val data = source.readVar(varName, block)
      val padded = ZarrGridStore.padChunk(data, eff, chunkSz.toArray, dtype)
      val payload =
        if (dtype == GString) innerSz match {
          case None => ZarrGridStore.compress(
            ZarrGridStore.encodeVlen(padded.asInstanceOf[Array[String]]),
            comp, 1)
          case Some(inner) =>
            encodeShardVlen(padded.asInstanceOf[Array[String]],
              chunkSz, inner, comp)
        }
        else {
          val leBytes = ZarrGridStore.toLE(padded, dtype)
          innerSz match {
            case None => ZarrGridStore.compress(leBytes, comp, dtype.byteWidth)
            case Some(inner) =>
              encodeShard(leBytes, chunkSz, inner, dtype.byteWidth, comp)
          }
        }
      GridIO.write(s"$dir/c/${ci.mkString("/")}", payload, conf)
      innerSz match {
        case None => Seq((s"$varName ${ci.mkString(".")}",
          ChunkStats.chunkStats(data),
          ChunkStats.chunkSum(data)))
        case Some(inner) =>
          ZarrGridStore.innerChunkStats(data, eff, ci.toArray, chunkSz,
            inner).map { case (k, mm, sm) => (s"$varName $k", mm, sm) }
      }
    }
  }

  /** Distributed DataFrame → Zarr v3 reverse pivot — the v3 (and
    * SHARDED) face of [[ZarrGridStore.writeFromRows]]: metadata +
    * coordinates from the driver, then one [[GridWriter.writeVar]]
    * scatter per variable with executors encoding whole shards (inner
    * chunk compression + index) or plain chunks. Sharding from SQL
    * results is the 100 TB write shape: object count stays one file
    * per SHARD while readers keep inner-chunk-granular ranged reads.
    */
  def writeFromRows(df: org.apache.spark.sql.DataFrame, schema: GridSchema,
      chunks: Map[String, Int], root: String,
      compressor: String = "zstd",
      shardInner: Map[String, Int] = Map.empty): ZarrGridStore = {
    val comp = parseV3Compressor(compressor)
    val conf = GridIO.driverConf()
    val cleanRoot = root.stripSuffix("/")
    writeMetadataShell(schema, cleanRoot, chunks, comp, shardInner, conf)
    val entries = schema.vars.filter(_.dims.nonEmpty).flatMap { v =>
      val chunkSz = v.dims.map(d =>
        chunks.getOrElse(d, math.max(schema.dim(d).size, 1)))
      val innerSz =
        if (shardInner.isEmpty) None
        else Some(v.dims.zip(chunkSz).map { case (d, outer) =>
          shardInner.getOrElse(d, outer) })
      GridWriter.writeVar(df, schema, chunks,
        GridWriter.V3Sink(cleanRoot, v.dtype, chunkSz, innerSz, comp), v)
    }
    schema.vars.filter(_.dims.isEmpty).foreach(v =>
      ZarrGridStore.writeScalarChunk(cleanRoot, v,
        ZarrGridStore.scalarValueFromRows(df, v), comp, "c", conf))
    ZarrGridStore.writeStatsSidecar(cleanRoot, schema, entries, conf)
    open(cleanRoot)
  }

  /** The v3 face of [[ZarrGridStore.appendFromRows]] — same staged
    * distributed scatter straight onto the store-global grid + rename +
    * metadata rewrite, but on the `c/`-keyed layout: sharded variables
    * stage whole SHARDS (stored-file granularity), so the scatter and
    * the edge read-modify-write run on the shard grid — an unaligned
    * old extent costs one decode + re-encode per edge SHARD, on the
    * executor that owns it. The coordinate array and every growing
    * variable's `zarr.json` shape are rewritten and the inline
    * consolidated root is rebuilt.
    */
  def appendFromRows(df: org.apache.spark.sql.DataFrame,
      slabSchema: GridSchema, root: String,
      along: String): ZarrGridStore = {
    val conf = GridIO.driverConf()
    val cleanRoot = root.stripSuffix("/")
    // concurrency stamp BEFORE open (see the v2 path's rationale)
    val versionKey = GridIO.statusOf(s"$cleanRoot/$along/zarr.json", conf)
    val existing = open(cleanRoot)
    val exDim = existing.schema.dim(along)
    val slabDim = slabSchema.dim(along)
    require(slabDim.size > 0, s"empty slab on $along")
    ZarrGridStore.rejectOverlappingSlab(exDim, slabDim, along)
    slabSchema.dims.filterNot(_.name == along).foreach { d =>
      val ex = existing.schema.dim(d.name)
      require(ZarrGridStore.coordValues(ex.coords) ==
        ZarrGridStore.coordValues(d.coords),
        s"dim ${d.name} of the slab differs from the store")
    }
    val growing = slabSchema.vars.filter(_.dims.contains(along))
    require(growing.nonEmpty, s"no slab variable spans $along")
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
      require(a.dims == v.dims,
        s"${v.name}: slab dims (${v.dims.mkString(",")}) must equal " +
          s"stored dims (${a.dims.mkString(",")})")
      // this writer's layout and a plain encoding only — staged chunks/
      // shards are encoded little-endian, unpacked, C-order, so any
      // other declared encoding must fail loudly instead of corrupting
      require(a.keyPrefix == "c" && a.dimSep == "/",
        s"${v.name}: append supports the default v3 chunk-key encoding " +
          s"only (keyPrefix='${a.keyPrefix}' sep='${a.dimSep}')")
      if (v.dtype == GString)
        require(a.stored.contains(StoredVlenStr) && !a.bigEndian &&
          a.filters.isEmpty && a.transposeOrder.isEmpty &&
          !a.sharding.exists(_.innerBigEndian),
          s"${v.name}: append supports vlen-utf8 string layouts only")
      else
        require(!a.bigEndian && a.filters.isEmpty &&
          // µs time dtypes are this writer's own time layout (int64-µs
          // payloads, same as the staged chunks)
          (a.stored.isEmpty || a.stored.contains(StoredTime64(1L, 1L))) &&
          a.transposeOrder.isEmpty && !ZarrGridStore.scaledVar(a) &&
          !a.sharding.exists(_.innerBigEndian),
          s"${v.name}: append supports plain little-endian C-order " +
            "unpacked unscaled layouts only")
      // staged shards are framed by encodeShard/encodeShardVlen: index
      // at the END, crc32c'd — a tree declaring index_location:'start'
      // or an uncrc'd index would mis-parse every appended shard
      a.sharding.foreach { sh =>
        require(sh.indexAtEnd && sh.indexCrc32c,
          s"${v.name}: append supports the default shard index layout " +
            "only (index at end, crc32c)")
      }
    }

    GridIO.sweepStaging(cleanRoot, conf)
    val staging = cleanRoot + ".staging-" +
      java.util.UUID.randomUUID().toString.take(8)
    val globalSize = exDim.size + slabDim.size
    val newEntries = growing.flatMap { v =>
      val a = existing.arrays(v.name)
      GridIO.mkdirs(s"$staging/${v.name}", conf)
      // the stored-file grid (= shard grid when sharded) keys the
      // scatter; per-var, so variables may chunk the axis differently
      val varChunks = v.dims.zip(a.chunkShape).toMap
      val axisPos = v.dims.indexOf(along)
      val alongChunk = a.chunkShape(axisPos)
      val edgeLen = exDim.size % alongChunk
      val base = GridWriter.V3Sink(staging, v.dtype, a.chunkShape,
        a.sharding.map(_.innerShape),
        a.sharding.map(_.innerCompressor).getOrElse(a.compressor),
        flatKeys = true)
      val sink =
        if (edgeLen > 0) ZarrGridStore.EdgeMergeSink(base, cleanRoot, a,
          axisPos, exDim.size / alongChunk, edgeLen)
        else base
      GridWriter.writeVar(df, slabSchema, varChunks, sink, v,
        globalAlong = Some((along, exDim.size, globalSize)))
    }
    ZarrGridStore.appendTestHook(cleanRoot)
    ZarrGridStore.checkNoConcurrentAppend(cleanRoot, staging,
      s"$cleanRoot/$along/zarr.json", versionKey, conf)
    // stats sidecar: fp-guarded sources skip the eager pre-force (the
    // bytes-served check is manifest-independent, and skipping it is
    // what keeps the suffix merge's prefix shards unread end-to-end);
    // legacy fp-less manifests must force-load the growing variables
    // NOW before the manifest deletion invalidates their guard. The
    // MANIFEST deletes before chunk moves either way (crash
    // mid-commit -> no manifest -> no stats, never stale bounds)
    val oldSource = existing.statsSource
    oldSource match {
      case lp: StatsSource.LazyPerVar
          if growing.forall(v => lp.fpCovered(v.name)) => ()
      case _ => growing.foreach(v => oldSource.entriesFor(v.name))
    }
    GridIO.delete(s"$cleanRoot/${ZarrGridStore.StatsSidecar}", conf)
    // staged flat keys (already store-global) -> nested `c/` keys via
    // the shared crash-healable, retry-idempotent commit protocol
    GridIO.commitStaged(staging,
      growing.flatMap { v =>
        GridIO.listNames(s"$staging/${v.name}", conf).map { fn =>
          (s"$staging/${v.name}/$fn",
            (s"$cleanRoot/${v.name}/c" +: fn.split('.').toSeq)
              .mkString("/"))
        }
      }, mkdirParents = true, conf)
    GridIO.delete(staging, conf)

    val mapper = new ObjectMapper()
    val combined = DimDef(along,
      ZarrGridStore.concatCoords(exDim.coords, slabDim.coords),
      exDim.calendar, exDim.units, exDim.attrs)
    // overwrite in place — no delete-first crash window (see the v2
    // append's coordinate rewrite)
    writeCoordArray(cleanRoot, combined, mapper, conf)
    growing.foreach { v =>
      val a = existing.arrays(v.name)
      val axisPos = v.dims.indexOf(along)
      val za = ZarrGridStore.parseJson(GridIO.readAllBytes(
        s"$cleanRoot/${v.name}/zarr.json", conf)).asInstanceOf[ObjectNode]
      val sh = za.putArray("shape")
      a.shape.updated(axisPos, a.shape(axisPos) + slabDim.size)
        .foreach(sh.add)
      GridIO.writeString(s"$cleanRoot/${v.name}/zarr.json",
        mapper.writeValueAsString(za), conf)
    }
    // merged sidecar (new entries win on the shared edge-chunk key)
    ZarrGridStore.mergeStatsSidecar(cleanRoot, existing.schema,
      oldSource, newEntries, conf)
    // the writer's metadata order (dims, then vars) keeps the rebuilt
    // root byte-identical to a one-shot write of the grown dataset
    reconsolidateRoot(cleanRoot,
      existing.schema.dims.map(_.name) ++ existing.schema.vars.map(_.name),
      mapper, conf)
    open(cleanRoot)
  }

  /** Rebuild the root `zarr.json` (group attributes preserved, inline
    * consolidated metadata refreshed from the per-array files, in the
    * given array order).
    */
  private def reconsolidateRoot(cleanRoot: String, order: Seq[String],
      mapper: ObjectMapper,
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    val rootMeta = ZarrGridStore.parseJson(
      GridIO.readAllBytes(s"$cleanRoot/zarr.json", conf))
    val top = mapper.createObjectNode()
    top.put("zarr_format", 3)
    top.put("node_type", "group")
    rootMeta.path("attributes") match {
      case a if a.isObject => top.set[JsonNode]("attributes", a)
      case _ => top.putObject("attributes"); ()
    }
    val consolidated = top.putObject("consolidated_metadata")
    consolidated.put("kind", "inline")
    consolidated.put("must_understand", false)
    val metaNode = consolidated.putObject("metadata")
    val listed = GridIO.listNames(cleanRoot, conf)
      .filterNot(_.startsWith("."))
      .filter(n => GridIO.exists(s"$cleanRoot/$n/zarr.json", conf))
    (order.filter(listed.contains) ++ listed.filterNot(order.contains).sorted)
      .foreach(n => metaNode.set[JsonNode](n, ZarrGridStore.parseJson(
        GridIO.readAllBytes(s"$cleanRoot/$n/zarr.json", conf))))
    GridIO.writeString(s"$cleanRoot/zarr.json",
      mapper.writeValueAsString(top), conf)
  }

  private def parseV3Compressor(compressor: String): Option[(String, Int)] = {
    val comp = ZarrGridStore.parseCompressor(compressor)
    require(!comp.exists(_._1 == "zlib"),
      "zarr v3 has no zlib codec; use gzip, zstd, blosc or none")
    comp
  }

  private def writeImpl(source: GridStore, root: String,
      chunks: Map[String, Int], compressor: String,
      shardInner: Map[String, Int], distributed: Boolean): ZarrGridStore = {
    val comp = parseV3Compressor(compressor)
    val conf = GridIO.driverConf()
    val schema = source.schema
    val cleanRoot = root.stripSuffix("/")
    writeMetadataShell(schema, cleanRoot, chunks, comp, shardInner, conf)
    val tasks = schema.vars.filter(_.dims.nonEmpty).flatMap { v =>
      val chunkSz = v.dims.map(d =>
        chunks.getOrElse(d, math.max(schema.dim(d).size, 1)))
      val innerSz =
        if (shardInner.isEmpty) None
        else Some(v.dims.zip(chunkSz).map { case (d, outer) =>
          shardInner.getOrElse(d, outer) })
      val sub = GridSchema(v.dims.map(schema.dim), Seq.empty)
      ChunkGrid.blocks(sub, chunks).map(block =>
        V3ChunkTask(s"$cleanRoot/${v.name}", v.name, v.dtype, chunkSz,
          innerSz, block))
    }
    val entries =
      if (!distributed) tasks.flatMap(_.run(source, comp, conf))
      else {
        val sc = org.apache.spark.sql.SparkSession.active.sparkContext
        val hconf = GridIO.shippable()
        val bSource = sc.broadcast(source)
        val parts = math.max(1,
          math.min(tasks.size, sc.defaultParallelism * 2))
        // stats entries are metadata-sized; the collect never carries data
        val es = sc.parallelize(tasks, parts)
          .flatMap(t => t.run(bSource.value, comp, hconf.value))
          .collect().toSeq
        bSource.destroy()
        es
      }
    schema.vars.filter(_.dims.isEmpty).foreach(v =>
      ZarrGridStore.writeScalarChunk(cleanRoot, v,
        source.readVar(v.name, Seq.empty), comp, "c", conf))
    ZarrGridStore.writeStatsSidecar(cleanRoot, schema, entries, conf)
    open(cleanRoot)
  }

  /** Driver-side metadata shell of a v3 write: coordinate arrays,
    * per-array `zarr.json`, and the consolidated root `zarr.json` —
    * everything except data chunks (which the caller writes, serially,
    * distributed store-to-store, or via the row scatter). 0-d (scalar)
    * variables get shape-[] metadata here; their single `c` chunk is
    * written driver-side by the caller.
    */
  private def writeMetadataShell(schema: GridSchema, cleanRoot: String,
      chunks: Map[String, Int], comp: Option[(String, Int)],
      shardInner: Map[String, Int],
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    GridIO.mkdirs(cleanRoot, conf)
    // drop any stale sidecar before chunks land (see v2 writeShell)
    GridIO.delete(s"$cleanRoot/${ZarrGridStore.StatsSidecar}", conf)
    val mapper = new ObjectMapper()
    val arrayMetaNodes = scala.collection.mutable.LinkedHashMap
      .empty[String, ObjectNode]

    // coordinate arrays: single chunk, uncompressed (metadata-sized);
    // string coordinates take zarr-python 3's native vlen-utf8 layout
    schema.dims.foreach { d =>
      arrayMetaNodes += d.name -> writeCoordArray(cleanRoot, d, mapper, conf)
    }

    schema.vars.foreach { v =>
      val dir = s"$cleanRoot/${v.name}"
      GridIO.mkdirs(dir, conf)
      val dimSz = v.dims.map(d => schema.dim(d).size)
      val chunkSz = v.dims.map(d =>
        chunks.getOrElse(d, math.max(schema.dim(d).size, 1)))
      val innerSz: Option[Seq[Int]] =
        if (shardInner.isEmpty || v.dims.isEmpty) None // scalars: no shards
        else Some(v.dims.zip(chunkSz).map { case (d, outer) =>
          val in = shardInner.getOrElse(d, outer)
          require(in > 0 && outer % in == 0,
            s"${v.name}: inner chunk $in must evenly divide shard $outer " +
              s"on dim $d")
          in
        })
      val meta = arrayJson(mapper, dimSz, chunkSz, v.dtype, comp,
        v.dims, v.attrs, innerSz)
      arrayMetaNodes += v.name -> meta
      GridIO.writeString(s"$dir/zarr.json",
        mapper.writeValueAsString(meta), conf)
    }
    // root group metadata with zarr-python-style inline consolidation:
    // later opens cost one read
    val top = mapper.createObjectNode()
    top.put("zarr_format", 3)
    top.put("node_type", "group")
    val attrs = top.putObject("attributes")
    schema.attrs.toSeq.sortBy(_._1).foreach { case (k, v2) =>
      attrs.put(k, v2) }
    val consolidated = top.putObject("consolidated_metadata")
    consolidated.put("kind", "inline")
    consolidated.put("must_understand", false)
    val metaNode = consolidated.putObject("metadata")
    arrayMetaNodes.foreach { case (n, m) => metaNode.set[JsonNode](n, m) }
    GridIO.writeString(s"$cleanRoot/zarr.json",
      mapper.writeValueAsString(top), conf)
  }

  /** One coordinate array: single chunk, uncompressed (vlen-utf8 for
    * string coords). Returns the array's metadata node for the
    * consolidated root.
    */
  private def writeCoordArray(cleanRoot: String, d: DimDef,
      mapper: ObjectMapper,
      conf: org.apache.hadoop.conf.Configuration): ObjectNode = {
    val n = d.size
    val (payload, dtype, extraAttrs) = d.coords match {
      case StringCoords(vs) =>
        (ZarrGridStore.encodeVlen(vs), GString, Map.empty[String, String])
      case _ =>
        val (data, dt, extra) = ZarrGridStore.coordPayload(d)
        (if (n > 0) ZarrGridStore.toLE(data, dt) else Array.emptyByteArray,
          dt, extra)
    }
    val meta = arrayJson(mapper, Seq(n), Seq(math.max(n, 1)), dtype,
      None, Seq(d.name), d.attrs ++ extraAttrs)
    GridIO.mkdirs(s"$cleanRoot/${d.name}", conf)
    GridIO.writeString(s"$cleanRoot/${d.name}/zarr.json",
      mapper.writeValueAsString(meta), conf)
    if (n > 0) GridIO.write(s"$cleanRoot/${d.name}/c/0", payload, conf)
    meta
  }

  /** One shard's bytes: per-inner-chunk compressed streams followed by
    * the little-endian uint64 (offset, nbytes) index + crc32c. Inverse
    * of [[ZarrGridStore.readShard]]'s layout.
    */
  private[grid] def encodeShard(leBytes: Array[Byte], outer: Seq[Int],
      inner: Seq[Int], w: Int, comp: Option[(String, Int)]): Array[Byte] = {
    val g = new InnerGrid(outer, inner)
    val run = g.rowLen * w
    val streams = new Array[Array[Byte]](g.nInner)
    var k = 0
    while (k < g.nInner) {
      val offs = g.rowOffsets(k)
      val block = new Array[Byte](g.innerN * w)
      var r = 0
      while (r < g.innerRows) {
        System.arraycopy(leBytes, offs(r) * w, block, r * run, run)
        r += 1
      }
      streams(k) = ZarrGridStore.compress(block, comp, w)
      k += 1
    }
    frameShard(streams)
  }

  /** Concatenate per-inner-chunk streams + the little-endian uint64
    * (offset, nbytes) index + crc32c — the shard container framing,
    * shared by the fixed-width and vlen encoders.
    */
  private def frameShard(streams: Array[Array[Byte]]): Array[Byte] = {
    val nInner = streams.length
    val body = streams.map(_.length).sum
    val out = java.nio.ByteBuffer.allocate(body + nInner * 16 + 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    streams.foreach(out.put)
    var off = 0L
    streams.foreach { s => out.putLong(off).putLong(s.length.toLong)
      off += s.length }
    val crc = new java.util.zip.CRC32C()
    crc.update(out.array(), body, nInner * 16)
    out.putInt(crc.getValue.toInt)
    out.array()
  }

  /** One SHARD of a vlen-utf8 string array: each inner chunk's strings
    * gather in C order, encode as a numcodecs VLenUTF8 frame,
    * compress, and the variable-size streams concatenate under the
    * same (offset, nbytes) index as numeric shards — which is exactly
    * why vlen arrays shard cleanly: readers never need a fixed stride,
    * only the index entry.
    */
  private[grid] def encodeShardVlen(values: Array[String], outer: Seq[Int],
      inner: Seq[Int], comp: Option[(String, Int)]): Array[Byte] = {
    val g = new InnerGrid(outer, inner)
    val streams = new Array[Array[Byte]](g.nInner)
    var k = 0
    while (k < g.nInner) {
      val offs = g.rowOffsets(k)
      val block = new Array[String](g.innerN)
      var r = 0
      while (r < g.innerRows) {
        System.arraycopy(values, offs(r), block, r * g.rowLen, g.rowLen)
        r += 1
      }
      streams(k) = ZarrGridStore.compress(
        ZarrGridStore.encodeVlen(block), comp, 1)
      k += 1
    }
    frameShard(streams)
  }

  private def arrayJson(mapper: ObjectMapper, shape: Seq[Int],
      chunkShape: Seq[Int], dtype: GridType, comp: Option[(String, Int)],
      dims: Seq[String], attrs: Map[String, String],
      shardInner: Option[Seq[Int]] = None): ObjectNode = {
    val node = mapper.createObjectNode()
    node.put("zarr_format", 3)
    node.put("node_type", "array")
    val sh = node.putArray("shape"); shape.foreach(sh.add)
    dtype match {
      case GDouble => node.put("data_type", "float64")
      case GFloat => node.put("data_type", "float32")
      case GInt => node.put("data_type", "int32")
      case GLong => node.put("data_type", "int64")
      // time kinds: the extension-object spelling zarr-python 3 emits
      // for numpy time dtypes (µs payload = the engine's unit)
      case GTimestamp | GDuration =>
        val dt = node.putObject("data_type")
        dt.put("name",
          if (dtype == GTimestamp) "numpy.datetime64"
          else "numpy.timedelta64")
        val cfg = dt.putObject("configuration")
        cfg.put("unit", "us")
        cfg.put("scale_factor", 1)
      case GString => // vlen-utf8 chunks, zarr-python 3 layout
        node.put("data_type", "string")
    }
    val cg = node.putObject("chunk_grid")
    cg.put("name", "regular")
    val cs = cg.putObject("configuration").putArray("chunk_shape")
    chunkShape.foreach(cs.add)
    val cke = node.putObject("chunk_key_encoding")
    cke.put("name", "default")
    cke.putObject("configuration").put("separator", "/")
    dtype match {
      case GDouble | GFloat => node.put("fill_value", "NaN")
      case GString => node.put("fill_value", "")
      // NaT: absent chunks of a time variable read all-NULL
      case GTimestamp | GDuration => node.put("fill_value", Long.MinValue)
      case _ => node.put("fill_value", 0)
    }
    def pipeline(into: com.fasterxml.jackson.databind.node.ArrayNode): Unit = {
      if (dtype == GString) into.addObject().put("name", "vlen-utf8")
      else {
        val bytesCodec = into.addObject()
        bytesCodec.put("name", "bytes")
        bytesCodec.putObject("configuration").put("endian", "little")
      }
      comp.foreach {
        case ("gzip", lvl) =>
          val c = into.addObject(); c.put("name", "gzip")
          c.putObject("configuration").put("level", lvl)
        case ("zstd", lvl) =>
          val c = into.addObject(); c.put("name", "zstd")
          val cfg = c.putObject("configuration")
          cfg.put("level", lvl); cfg.put("checksum", false)
        case (id, lvl) if id.startsWith("blosc") =>
          val (cname, mode) = ZarrGridStore.bloscConfig(id)
          val c = into.addObject(); c.put("name", "blosc")
          val cfg = c.putObject("configuration")
          cfg.put("cname", cname); cfg.put("clevel", lvl)
          cfg.put("shuffle", mode match {
            case Blosc.ShuffleBit => "bitshuffle"
            case Blosc.ShuffleNone => "noshuffle"
            case _ => "shuffle"
          })
          cfg.put("typesize",
            if (dtype == GString) 1 else dtype.byteWidth)
          cfg.put("blocksize", 0)
        case (other, _) =>
          throw new IllegalArgumentException(s"bad v3 compressor '$other'")
      }
    }
    val codecs = node.putArray("codecs")
    shardInner match {
      case None => pipeline(codecs)
      case Some(inner) =>
        val sc = codecs.addObject()
        sc.put("name", "sharding_indexed")
        val cfg = sc.putObject("configuration")
        val cs = cfg.putArray("chunk_shape"); inner.foreach(cs.add)
        pipeline(cfg.putArray("codecs"))
        val idx = cfg.putArray("index_codecs")
        val ib = idx.addObject(); ib.put("name", "bytes")
        ib.putObject("configuration").put("endian", "little")
        idx.addObject().put("name", "crc32c")
        cfg.put("index_location", "end")
    }
    val at = node.putObject("attributes")
    attrs.toSeq.sortBy(_._1).foreach { case (k, v) => at.put(k, v) }
    val dn = node.putArray("dimension_names")
    dims.foreach(dn.add)
    node
  }
}
