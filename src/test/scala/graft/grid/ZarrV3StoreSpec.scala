package graft.grid

import graft.{SparkTestBase, XarrayContext}
import graft.sources.ReadCounters
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/** The engine-written store end to end: zstd Zarr v3 trees through
  * write, open, scan, pruning, var stats, attrs and append.
  */
class ZarrV3StoreSpec extends SparkTestBase {

  private def tempDir(tag: String): String =
    Files.createTempDirectory(s"graft-$tag").toString

  private def rowsOf(store: GridStore, key: String) =
    new XarrayContext(spark).scratchDataFrame(key, store,
      Map("t" -> 6), store.schema.dims.map(_.name))

  private def appendSlice(root: String, t0: Int, t1: Int): ZarrGridStore = {
    val g = Fixtures.linearGridSlice(t0, t1)
    ZarrV3.appendFromRows(rowsOf(g, s"v3app@$root/$t0"), g.schema, root,
      "t")
  }

  test("write -> open round trip preserves schema, chunks and values") {
    val dir = tempDir("rt")
    val chunks = Map("time" -> 6)
    ZarrV3.write(Fixtures.airSmall, dir, chunks, "zstd")
    val store = ZarrV3.open(dir)
    assert(store.schema.dimNames == Seq("time", "lat", "lon"))
    assert(store.chunkMap == chunks + ("lat" -> 11) + ("lon" -> 10))
    val law = Fixtures.airSmall.laws("air")
    val block = Seq((6, 6), (0, 11), (0, 10))
    val got = store.readVar("air", block).asInstanceOf[Array[Double]]
    // strided check of the second time chunk against the law
    for (t <- 0 until 6; i <- 0 until 11; j <- 0 until 10)
      assert(got(t * 110 + i * 10 + j) == law(Array(6 + t, i, j)))
  }

  test("appendFromRows: new chunks past the extent, old files untouched") {
    val dir = tempDir("append")
    ZarrV3.write(Fixtures.linearGridSlice(0, 12), dir, Map("t" -> 6), "zstd")
    val tDir = Paths.get(dir, "air", "c")
    def chunkFiles = Files.list(tDir).toArray.map(_.toString)
      .map(p => Paths.get(p).getFileName.toString -> Paths.get(p, "0", "0")
        .toFile.lastModified).toMap
    val before = chunkFiles
    assert(before.keySet == Set("0", "1"))
    appendSlice(dir, 12, 24)
    // old chunk files untouched (same mtime), two new ones
    val after = chunkFiles
    assert(after.keySet == Set("0", "1", "2", "3"))
    before.foreach { case (n, m) => assert(after(n) == m, s"$n rewritten") }
    // reopened store sees the seamless 24-step grid with merged stats
    val store = ZarrV3.open(dir)
    assert(store.schema.dim("t").size == 24)
    val law = Fixtures.linearGrid.laws("air")
    val got = store.readVar("air", Seq((6, 12), (0, 12), (0, 10)))
      .asInstanceOf[Array[Double]] // spans the append boundary
    for (t <- 0 until 12; i <- 0 until 12; j <- 0 until 10)
      assert(got(t * 120 + i * 10 + j) == law(Array(6 + t, i, j)))
    // appended chunks carry value stats: chunk 3 = t 18..23
    assert(store.varBounds("air", Seq((18, 6), (0, 12), (0, 10)))
      .contains((200.0 + 18.0, 200.0 + 23.0 + 22.0 + 27.0)))
    // misuse is rejected: wrong invariant coords, then a duplicate slab
    val badLat = Fixtures.linearGridSlice(24, 30)
    val shifted = SyntheticGridStore(
      GridSchema(badLat.schema.dims.map(d =>
        if (d.name == "lat") d.copy(coords = DoubleCoords(
          (0 until 12).map(i => 80.0 - 2.5 * i).toArray)) else d),
        badLat.schema.vars),
      badLat.laws)
    intercept[IllegalArgumentException] {
      ZarrV3.appendFromRows(rowsOf(shifted, s"v3bad@$dir"), shifted.schema,
        dir, "t")
    }
    // overlapping coords: a retried/duplicate slab must be rejected,
    // not silently doubled
    val dup = intercept[IllegalArgumentException](appendSlice(dir, 12, 24))
    assert(dup.getMessage.contains("overlap"))
    appendSlice(dir, 24, 27)
    // 27 % 6 != 0: appending onto the ragged extent read-modify-writes
    // the partial edge chunk (t 24..26 + t 27..29 merge into chunk 4)
    val grown = appendSlice(dir, 27, 30)
    assert(grown.schema.dim("t").size == 30)
    val merged = grown.readVar("air", Seq((24, 6), (0, 12), (0, 10)))
      .asInstanceOf[Array[Double]]
    for (t <- 0 until 6; i <- 0 until 12; j <- 0 until 10)
      assert(merged(t * 120 + i * 10 + j) == law(Array(24 + t, i, j)),
        s"edge cell ($t,$i,$j)")
    // the merged edge chunk's stats were recomputed over old + new data
    assert(grown.varBounds("air", Seq((24, 6), (0, 12), (0, 10)))
      .contains((200.0 + 24.0, 200.0 + 29.0 + 22.0 + 27.0)))
    // an axis stored as ONE chunk grows too: the chunk shape lives in
    // the array metadata, so new chunks land past it at that shape
    val udir = tempDir("append-unchunked")
    ZarrV3.write(Fixtures.linearGridSlice(0, 12), udir, Map.empty, "zstd")
    val un = appendSlice(udir, 12, 18)
    assert(un.arrays("air").chunkShape.head == 12)
    assert(un.readVar("air", Seq((0, 18), (0, 12), (0, 10)))
      .asInstanceOf[Array[Double]].sameElements(Fixtures.linearGrid
        .readVar("air", Seq((0, 18), (0, 12), (0, 10)))
        .asInstanceOf[Array[Double]]))
  }

  test("tail block spanning several disk chunks: assembled, stats withheld") {
    // time 12 at chunk 5 -> chunks of 5, 5, 2(+3 padding) steps. Block
    // (5, 7) starts chunk-aligned and ends at the dim size but covers
    // chunks 1 AND 2 — it must take the assembly path and must get NO
    // single-chunk stats (unsound bounds would feed pruning)
    val dir = tempDir("tail")
    val store = ZarrV3.write(Fixtures.airSmall, dir, Map("time" -> 5), "zstd")
    val law = Fixtures.airSmall.laws("air")
    val got = store.readVar("air", Seq((5, 7), (0, 11), (0, 10)))
      .asInstanceOf[Array[Double]]
    assert(got.length == 7 * 11 * 10)
    for (t <- 0 until 7; i <- 0 until 11; j <- 0 until 10)
      assert(got(t * 110 + i * 10 + j) == law(Array(5 + t, i, j)),
        s"cell ($t,$i,$j)")
    assert(store.varBounds("air", Seq((5, 7), (0, 11), (0, 10))).isEmpty)
    // the genuinely ragged FINAL chunk still serves its stats
    assert(store.varBounds("air", Seq((10, 2), (0, 11), (0, 10))).nonEmpty)
  }

  test("unaligned multi-chunk reads assemble the exact hyperslab") {
    val law = Fixtures.airSmall.laws("air")
    // spans both time chunks, offset in every dim
    val ranges = Seq((3, 6), (2, 7), (1, 8))
    for (codec <- Seq("none", "zstd")) {
      val store = ZarrV3.write(Fixtures.airSmall, tempDir(s"align-$codec"),
        Map("time" -> 6), codec)
      val got = store.readVar("air", ranges).asInstanceOf[Array[Double]]
      assert(got.length == 6 * 7 * 8)
      for (t <- 0 until 6; i <- 0 until 7; j <- 0 until 8)
        assert(got(t * 56 + i * 8 + j) == law(Array(3 + t, 2 + i, 1 + j)),
          s"$codec cell ($t,$i,$j)")
    }
  }

  test("DSv2 scan over the disk store: pruning skips chunk files entirely") {
    val dir = tempDir("scan")
    val chunks = Map("time" -> 25)
    val store = ZarrV3.write(Fixtures.pruneGrid, dir, chunks, "zstd")
    val ctx = new XarrayContext(spark)
    val df = ctx.dataFrame("v3disk1", store, chunks, Seq("time", "lat"))

    ReadCounters.reset()
    // collect, not count(): the filtered count is metadata-answered and
    // would open zero chunk files
    val n = df.filter(col("time") >= to_timestamp(lit("2020-03-16 00:00:00")))
      .collect().length
    assert(n == 125)
    assert(ReadCounters.partitionsOpened.sum() == 1L)

    // projection pushdown means the chunk files of an unprojected var
    // are never opened: two-var store, select one
    val dir2 = tempDir("proj")
    val store2 = ZarrV3.write(Fixtures.twoVarGrid, dir2, Map("time" -> 5),
      "zstd")
    val df2 = ctx.dataFrame("v3disk2", store2, Map("time" -> 5),
      Seq("time", "lat"))
    ReadCounters.reset()
    df2.select("temperature").collect()
    assert(ReadCounters.varReadCount("temperature") == 2L)
    assert(ReadCounters.varReadCount("precipitation") == 0L)
    // the files exist on disk but were not needed
    assert(Files.exists(Paths.get(dir2, "precipitation", "c", "0", "0")))
  }

  test("fromDatasetAuto: byte budget picks the chunk spec end-to-end") {
    // (lat,lon) slice = 110 doubles = 880 B; 2000 B budget -> time -> 2
    val ctx = new XarrayContext(spark)
    ctx.fromDatasetAuto("air_auto", Fixtures.airSmall, budgetBytes = 2000)
    ReadCounters.reset()
    val n = spark.sql("SELECT time, lat, lon, air FROM air_auto")
      .collect().length
    assert(n == 12 * 11 * 10)
    assert(ReadCounters.partitionsOpened.sum() == 6L) // 12 days / 2
  }

  test("fromDatasetAuto snaps to a Zarr store's on-disk chunks") {
    // (lat,lon) slice = 120 doubles = 960 B: a 4000 B budget alone
    // would pick t=4, cutting the t=6 disk chunks in two (blocks lose
    // their zone-map stats and decode chunks twice); snapping keeps t=6
    val dir = tempDir("auto-zarr")
    val store = ZarrV3.write(Fixtures.linearGrid, dir, Map("t" -> 6), "zstd")
    assert(ChunkGrid.autoChunks(store.schema, 4000L) == Map("t" -> 4))
    new XarrayContext(spark).fromDatasetAuto("linear_auto_v3", store,
      budgetBytes = 4000)
    ReadCounters.reset()
    assert(spark.sql("SELECT * FROM linear_auto_v3").collect().length ==
      24 * 12 * 10)
    assert(ReadCounters.partitionsOpened.sum() == 4L) // 24 steps / 6
    // aligned blocks keep their var stats: air >= 255 prunes chunk 0
    ReadCounters.reset()
    assert(spark.sql("SELECT * FROM linear_auto_v3 WHERE air >= 255.0")
      .collect().nonEmpty)
    assert(ReadCounters.partitionsOpened.sum() == 3L)
  }

  test("variable chunk stats: recorded at write, served, prune the scan") {
    val dir = tempDir("varstats")
    val store = ZarrV3.write(Fixtures.pruneGrid, dir, Map("time" -> 25),
      "zstd")
    // temperature = t*10 + lat_idx -> chunk maxima 244 / 494 / 744 / 994
    assert(store.varBounds("temperature", Seq((0, 25), (0, 5)))
      .contains((0.0, 244.0)))
    assert(store.varBounds("temperature", Seq((75, 25), (0, 5)))
      .contains((750.0, 994.0)))
    // unaligned block -> no stats (sound: unknown)
    assert(store.varBounds("temperature", Seq((10, 25), (0, 5))).isEmpty)
    val df = new XarrayContext(spark).dataFrame("v3varstats_grid", store,
      store.chunkMap, Seq("time", "lat"))
    ReadCounters.reset()
    // a DATA-VARIABLE predicate zone-map-prunes chunks
    assert(df.filter(col("temperature") >= 750.0).collect().length == 125)
    assert(ReadCounters.partitionsOpened.sum() == 1L)
  }

  test("attrs + calendar metadata round-trip: store, pivot, template recovery") {
    val base = Fixtures.airSmall
    val schema = base.schema.copy(
      dims = base.schema.dims.map(d => if (d.name == "time")
        d.copy(attrs = Map("axis" -> "T", "long name" -> "time of obs"))
      else d),
      vars = base.schema.vars.map(_.copy(attrs = Map("units" -> "K"))),
      attrs = Map("title" -> "air small", "institution" -> "graft test"))
    val dir = tempDir("attrs")
    ZarrV3.write(SyntheticGridStore(schema, base.laws), dir,
      Map("time" -> 6), "zstd")
    val re = ZarrV3.open(dir)
    // dataset / dim / var attrs survive the on-disk metadata
    assert(re.schema.attrs == schema.attrs)
    assert(Map("axis" -> "T", "long name" -> "time of obs").toSet
      .subsetOf(re.schema.dim("time").attrs.toSet))
    assert(re.schema.vars.head.attrs == Map("units" -> "K"))
    // ...and flow onto the pivoted Spark columns
    val df = new XarrayContext(spark).dataFrame("v3attrs_grid", re,
      Map("time" -> 6), Seq("time", "lat", "lon"))
    assert(df.schema("air").metadata.getString("xarray:attr:units") == "K")
    assert(df.schema("time").metadata.getString("xarray:attr:axis") == "T")
    // ...and template recovery restores them after grid -> SQL -> grid
    // (reference ds.py:72-147)
    val res = GridResult.toGrid(
      df.filter(col("lat") > 60).select("time", "lat", "lon", "air"),
      Seq("time", "lat", "lon"))
    val mem = ArrayGridStore.fromResult(res, re.schema)
    assert(mem.schema.attrs == schema.attrs)
    assert(mem.schema.dim("time").attrs("axis") == "T")
    assert(mem.schema.vars.find(_.name == "air").get.attrs("units") == "K")
    // calendar/units also persist (360_day fixture)
    val cdir = tempDir("cal")
    ZarrV3.write(Fixtures.cal360Grid, cdir, Map("time" -> 90), "zstd")
    val cal = ZarrV3.open(cdir).schema.dim("time")
    assert(cal.calendar.contains("360_day") &&
      cal.units.contains("days since 2000-01-01"))
  }

  test("zstd codec: values round-trip exactly and chunks shrink on disk") {
    def dirBytes(d: String, v: String): Long =
      Files.walk(Paths.get(d, v, "c")).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .filter(Files.isRegularFile(_)).map(Files.size).sum
    val raw = tempDir("zraw")
    val comp = tempDir("zcomp")
    val chunks = Map("time" -> 25)
    val expect = ZarrV3.write(Fixtures.pruneGrid, raw, chunks, "none")
    ZarrV3.write(Fixtures.pruneGrid, comp, chunks, "zstd")
    // open() recovers the codec from metadata
    val store = ZarrV3.open(comp)
    assert(store.arrays("temperature").compressor.exists(_._1 == "zstd"))
    for (c <- 0 until 4) {
      val block = Seq((c * 25, 25), (0, 5))
      assert(store.readVar("temperature", block).asInstanceOf[Array[Double]]
        .toSeq == expect.readVar("temperature", block)
        .asInstanceOf[Array[Double]].toSeq, s"chunk $c")
    }
    assert(dirBytes(comp, "temperature") < dirBytes(raw, "temperature"))
    // the compressed store serves the DSv2 scan identically
    val ctx = new XarrayContext(spark)
    val df = ctx.dataFrame("v3zstd1", store, chunks, Seq("time", "lat"))
    val s = df.agg(sum("temperature")).collect()(0).getDouble(0)
    val df0 = ctx.dataFrame("v3zstd0", expect, chunks, Seq("time", "lat"))
    assert(s == df0.agg(sum("temperature")).collect()(0).getDouble(0))
  }

  test("values round-trip exactly for all numeric dtypes") {
    val time = TimeCoords(Array(0L, 86400000000L))
    val x = IntCoords(Array(0, 1, 2))
    val schema = GridSchema(
      Seq(DimDef("time", time), DimDef("x", x)),
      Seq(
        VarDef("d", Seq("time", "x"), GDouble),
        VarDef("f", Seq("time", "x"), GFloat),
        VarDef("i", Seq("time", "x"), GInt),
        VarDef("l", Seq("time", "x"), GLong)))
    import ZarrV3StoreSpec.Law
    val src = SyntheticGridStore(schema,
      Map("d" -> Law(1.25), "f" -> Law(0.5), "i" -> Law(2.0), "l" -> Law(3.0)))
    val store = ZarrV3.write(src, tempDir("dtypes"), Map("time" -> 1), "zstd")
    for (v <- Seq("d", "f", "i", "l")) {
      val a = src.readVar(v, Seq((1, 1), (0, 3)))
      val b = store.readVar(v, Seq((1, 1), (0, 3)))
      assert(a.asInstanceOf[Array[_]].toSeq == b.asInstanceOf[Array[_]].toSeq, v)
    }
  }
}

object ZarrV3StoreSpec {
  final case class Law(m: Double) extends GridFun {
    def apply(idx: Array[Int]): Double = m * (idx(0) * 3 + idx(1)) - 2.5
  }
}
