package graft.grid

import graft.SparkTestBase
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Unaligned appends (the xarray `to_zarr(append_dim=...)` ingest
  * idiom): the existing extent of the growing axis need not be
  * chunk-aligned — the owning executor read-modify-writes the partial
  * edge chunk/shard. Every test appends at NON-chunk-multiple
  * boundaries twice and byte-compares the grown tree against a one-shot
  * write of the same data: the strongest equivalence the format allows
  * (metadata, coordinate arrays, every chunk payload).
  */
class ZarrUnalignedAppendSpec extends SparkTestBase {

  private def tmp(): Path = {
    val p = Files.createTempDirectory("zarr_unaligned")
    p.toFile.deleteOnExit()
    p
  }

  private def gridDf = new graft.XarrayContext(spark).dataFrame(
    "ua_grid", Fixtures.linearGrid, Map("t" -> 6), Seq("t", "lat", "lon"))

  private def walk(r: String): Map[String, Seq[Byte]] = {
    val base = Paths.get(r)
    Files.walk(base).iterator().asScala
      .filter(Files.isRegularFile(_))
      .map(p => base.relativize(p).toString -> Files.readAllBytes(p).toSeq)
      .toMap
  }

  private def assertTreesEqual(oneShot: String, appended: String): Unit = {
    val a = walk(oneShot)
    val b = walk(appended)
    assert(a.keySet == b.keySet,
      (a.keySet.diff(b.keySet), b.keySet.diff(a.keySet)))
    a.keys.foreach(k => assert(a(k) == b(k), s"file $k differs"))
  }

  /** Write t-slices [0,c1), [c1,c2), [c2,24) via the format surface and
    * byte-compare against a one-shot write with the same options.
    */
  private def appendVsOneShot(dir: Path, cuts: (Int, Int),
      opts: Map[String, String]): Unit = {
    val (c1, c2) = cuts
    val df = gridDf
    def slab(t0: Int, t1: Int) = df.filter(col("t") >= t0 && col("t") < t1)
    val grow = dir.resolve("grow").toString
    def writeSlab(t0: Int, t1: Int): Unit = {
      var w = slab(t0, t1).write.format("zarr").option("dims", "t,lat,lon")
      val useOpts = if (t0 == 0) opts else opts + ("appendDim" -> "t")
      useOpts.foreach { case (k, v) => w = w.option(k, v) }
      w.mode("append").save(grow)
    }
    writeSlab(0, c1); writeSlab(c1, c2); writeSlab(c2, 24)
    val oneShot = dir.resolve("oneshot").toString
    var w = df.write.format("zarr").option("dims", "t,lat,lon")
    opts.foreach { case (k, v) => w = w.option(k, v) }
    w.mode("overwrite").save(oneShot)
    assertTreesEqual(oneShot, grow)
    // read-back across both boundaries
    val back = spark.read.format("zarr").load(grow)
    assert(back.count() == 24L * 12 * 10)
    val r = back.filter(col("t").between(c1 - 1, c2))
      .agg(sum("air")).collect().head
    val expect = (for (t <- (c1 - 1) to c2; i <- 0 until 12;
        j <- 0 until 10) yield 200.0 + t + 2.0 * i + 3.0 * j).sum
    assert(math.abs(r.getDouble(0) - expect) < 1e-6)
  }

  test("v2: unaligned append twice is byte-identical to one-shot") {
    // chunk t=6; cuts at 7 and 16 — both inside a chunk
    appendVsOneShot(tmp(), (7, 16),
      Map("chunks" -> "t=6,lat=5", "compressor" -> "zlib:6"))
  }

  test("v2 blosc: append re-encodes with the tree's declared cname/shuffle") {
    val dir = tmp()
    appendVsOneShot(dir, (5, 13),
      Map("chunks" -> "t=6,lat=5", "compressor" -> "blosc:zstd:7:bit"))
    // the parsed metadata preserves the config end-to-end
    val store = ZarrGridStore.open(dir.resolve("grow").toString)
    assert(store.arrays("air").compressor.contains(("blosc/zstd/bit", 7)))
  }

  test("v3: unaligned append twice is byte-identical to one-shot") {
    appendVsOneShot(tmp(), (7, 16),
      Map("chunks" -> "t=6,lat=5", "format" -> "v3",
        "compressor" -> "zstd:3"))
  }

  test("v3 sharded: unaligned append read-modify-writes the edge shard") {
    // shard t=6 / inner t=2; cuts at 7 (edge len 1) and 17 (edge len 5)
    appendVsOneShot(tmp(), (7, 17),
      Map("chunks" -> "t=6,lat=5", "format" -> "v3", "shards" -> "t=2",
        "compressor" -> "zstd:3"))
  }

  test("API path: second unaligned append onto a ragged v2 store") {
    // drive ZarrGridStore.appendFromRows directly (dim-sliced slabs,
    // per-slab schemas) to pin the non-format-surface entry point
    val dir = tmp()
    val root = dir.resolve("api").toString
    val df = gridDf
    val schemaAll = Fixtures.linearGrid.schema
    def slabSchema(t0: Int, t1: Int) =
      Fixtures.linearGridSlice(t0, t1).schema
    ZarrGridStore.writeFromRows(df.filter(col("t") < 4),
      slabSchema(0, 4), Map("t" -> 6, "lat" -> 5), root, "zlib:6")
    ZarrGridStore.appendFromRows(
      df.filter(col("t") >= 4 && col("t") < 9), slabSchema(4, 9), root, "t")
    ZarrGridStore.appendFromRows(
      df.filter(col("t") >= 9), slabSchema(9, 24), root, "t")
    val oneShot = dir.resolve("oneshot").toString
    ZarrGridStore.writeFromRows(df, schemaAll,
      Map("t" -> 6, "lat" -> 5), oneShot, "zlib:6")
    assertTreesEqual(oneShot, root)
  }

  test("string variables append (v2 + sharded v3), unaligned, byte-equal") {
    import spark.implicits._
    def df(t0: Int, t1: Int) = (t0 until t1).map { t =>
      (t, if (t % 3 == 0) "alpha" else if (t % 3 == 1) "beta" else "",
        10.0 + t)
    }.toDF("t", "label", "x")
    def schema(t0: Int, t1: Int) = GridSchema(
      Seq(DimDef("t", IntCoords((t0 until t1).toArray))),
      Seq(VarDef("label", Seq("t"), GString),
        VarDef("x", Seq("t"), GDouble)))
    val expect = (0 until 12).map(t =>
      if (t % 3 == 0) "alpha" else if (t % 3 == 1) "beta" else "").toArray

    // v2: create 0..7 (7 % 5 != 0), append 7..12 — RMW of the vlen
    // edge chunk, byte-identical to a one-shot write
    val d2 = tmp()
    val v2root = d2.resolve("grow").toString
    ZarrGridStore.writeFromRows(df(0, 7), schema(0, 7), Map("t" -> 5),
      v2root, "zstd:3")
    val v2 = ZarrGridStore.appendFromRows(df(7, 12), schema(7, 12),
      v2root, "t")
    assert(v2.readVar("label", Seq((0, 12))).asInstanceOf[Array[String]]
      .sameElements(expect))
    ZarrGridStore.writeFromRows(df(0, 12), schema(0, 12), Map("t" -> 5),
      d2.resolve("oneshot").toString, "zstd:3")
    assertTreesEqual(d2.resolve("oneshot").toString, v2root)

    // sharded v3: shard t=6 / inner t=2, create 0..7 (edge len 1 in
    // shard 1), append 7..12 — the edge SHARD re-encodes merged vlen
    // inner chunks
    val d3 = tmp()
    val v3root = d3.resolve("grow").toString
    ZarrV3.writeFromRows(df(0, 7), schema(0, 7), Map("t" -> 6),
      v3root, "zstd:3", shardInner = Map("t" -> 2))
    val v3 = ZarrGridStore.appendFromRows(df(7, 12), schema(7, 12),
      v3root, "t")
    assert(v3.readVar("label", Seq((0, 12))).asInstanceOf[Array[String]]
      .sameElements(expect))
    assert(v3.arrays("label").sharding.isDefined)
    ZarrV3.writeFromRows(df(0, 12), schema(0, 12), Map("t" -> 6),
      d3.resolve("oneshot").toString, "zstd:3",
      shardInner = Map("t" -> 2))
    assertTreesEqual(d3.resolve("oneshot").toString, v3root)
  }

  test("a competing append committed during staging aborts loudly") {
    import spark.implicits._
    def df(t0: Int, t1: Int) =
      (t0 until t1).map(t => (t, 10.0 + t)).toDF("t", "x")
    def schema(t0: Int, t1: Int) = GridSchema(
      Seq(DimDef("t", IntCoords((t0 until t1).toArray))),
      Seq(VarDef("x", Seq("t"), GDouble)))
    for (v3 <- Seq(false, true)) {
      val root = tmp().resolve(if (v3) "ccv3" else "ccv2").toString
      if (v3) ZarrV3.writeFromRows(df(0, 7), schema(0, 7),
        Map("t" -> 5), root, "zstd:3")
      else ZarrGridStore.writeFromRows(df(0, 7), schema(0, 7),
        Map("t" -> 5), root, "zstd:3")
      // the hook interleaves a COMPETING append (extent 7 -> 12) after
      // this append finishes staging — exactly the race the version
      // stamp must catch; the loser aborts, the store stays the
      // winner's
      ZarrGridStore.appendTestHook = { _ =>
        ZarrGridStore.appendTestHook = _ => () // no reentrant interleave
        ZarrGridStore.appendFromRows(df(7, 12), schema(7, 12), root, "t")
        ()
      }
      try {
        val e = intercept[java.util.ConcurrentModificationException] {
          ZarrGridStore.appendFromRows(df(7, 14), schema(7, 14), root, "t")
        }
        assert(e.getMessage.contains("concurrent append"), e.getMessage)
      } finally ZarrGridStore.appendTestHook = _ => ()
      // the tree holds exactly the winner's commit, no interleaved mix
      val store = ZarrGridStore.open(root)
      assert(store.schema.dim("t").size == 12)
      assert(store.readVar("x", Seq((0, 12))).asInstanceOf[Array[Double]]
        .sameElements(Array.tabulate(12)(t => 10.0 + t)))
      // and no staging residue survived the abort
      val parent = java.nio.file.Paths.get(root).getParent
      assert(!java.nio.file.Files.list(parent).iterator().asScala
        .exists(_.getFileName.toString.contains(".staging-")))
    }
  }

  test("a crashed edge-chunk replace heals from its backup") {
    import spark.implicits._
    val dir = tmp()
    val root = dir.resolve("heal").toString
    val df = (0 until 7).map(t => (t, 10.0 + t)).toDF("t", "x")
    val schema = GridSchema(
      Seq(DimDef("t", IntCoords((0 until 7).toArray))),
      Seq(VarDef("x", Seq("t"), GDouble)))
    ZarrGridStore.writeFromRows(df, schema, Map("t" -> 5), root, "zstd:3")
    val conf = GridIO.driverConf()
    // simulate a crash between backup and replace: the edge chunk "1"
    // sits only in its .appendbak, and the staging tree's manifest
    // records the half-done destination
    GridIO.rename(s"$root/x/1", s"$root/x/1.appendbak", conf)
    val staging = root + ".staging-crashed1"
    GridIO.mkdirs(staging, conf)
    GridIO.writeString(s"$staging/.replace-manifest", s"$root/x/1", conf)
    // without healing the chunk would silently read as ALL-FILL
    assert(ZarrGridStore.open(root)
      .readVar("x", Seq((5, 2))).asInstanceOf[Array[Double]]
      .forall(_.isNaN))
    // the next append's staging sweep restores it
    GridIO.sweepStaging(root, conf)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(staging)))
    assert(ZarrGridStore.open(root)
      .readVar("x", Seq((5, 2))).asInstanceOf[Array[Double]]
      .sameElements(Array(15.0, 16.0)))
    // crash AFTER the replace landed: stale backup is dropped, the
    // live chunk is untouched
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$root/x/1.appendbak"),
      Array[Byte](1, 2, 3))
    val staging2 = root + ".staging-crashed2"
    GridIO.mkdirs(staging2, conf)
    GridIO.writeString(s"$staging2/.replace-manifest", s"$root/x/1", conf)
    GridIO.sweepStaging(root, conf)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/x/1.appendbak")))
    assert(ZarrGridStore.open(root)
      .readVar("x", Seq((5, 2))).asInstanceOf[Array[Double]]
      .sameElements(Array(15.0, 16.0)))
  }

  test("retry after a crashed commit replaces orphan chunks") {
    import spark.implicits._
    val root = tmp().resolve("retry").toString
    def df(t0: Int, t1: Int) =
      (t0 until t1).map(t => (t, 10.0 + t)).toDF("t", "x")
    def schema(t0: Int, t1: Int) = GridSchema(
      Seq(DimDef("t", IntCoords((t0 until t1).toArray))),
      Seq(VarDef("x", Seq("t"), GDouble)))
    ZarrGridStore.writeFromRows(df(0, 7), schema(0, 7), Map("t" -> 5),
      root, "zstd:3")
    // a crashed earlier commit of this same append landed an orphan
    // beyond-extent chunk (metadata never grew); the retry must
    // REPLACE it, not fail "rename failed" forever
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$root/x/2"),
      Array[Byte](9, 9, 9))
    val grown = ZarrGridStore.appendFromRows(df(7, 12), schema(7, 12),
      root, "t")
    assert(grown.readVar("x", Seq((0, 12))).asInstanceOf[Array[Double]]
      .sameElements(Array.tabulate(12)(t => 10.0 + t)))
  }

  test("group option rejects traversal segments") {
    import spark.implicits._
    val root = tmp().resolve("trav").toString
    val df = (0 until 3).map(t => (t, 1.0 * t)).toDF("t", "x")
    val e = intercept[Exception] {
      df.write.format("zarr").option("dims", "t")
        .option("group", "..").mode("overwrite").save(root)
    }
    assert(e.getMessage.contains("escape"), e.getMessage)
    val e2 = intercept[Exception] {
      spark.read.format("zarr").option("group", "a/../b").load(root)
    }
    assert(e2.getMessage.contains("escape"), e2.getMessage)
  }

  test("v3 append rejects a non-default shard index layout") {
    import spark.implicits._
    val dir = tmp()
    val root = dir.resolve("idx").toString
    val df = (0 until 6).map(t => (t, 10.0 + t)).toDF("t", "x")
    val schema = GridSchema(
      Seq(DimDef("t", IntCoords((0 until 6).toArray))),
      Seq(VarDef("x", Seq("t"), GDouble)))
    ZarrV3.writeFromRows(df, schema, Map("t" -> 6), root, "zstd:3",
      shardInner = Map("t" -> 2))
    // claim index_location "start" in the metadata (array + root):
    // staged shards are always framed with an END index, so the append
    // must refuse rather than mix layouts inside one array
    Seq(s"$root/x/zarr.json", s"$root/zarr.json").foreach { p =>
      val s = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p)), "UTF-8")
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        s.replace("\"index_location\":\"end\"",
          "\"index_location\":\"start\"").getBytes("UTF-8"))
    }
    val slab = (6 until 9).map(t => (t, 10.0 + t)).toDF("t", "x")
    val slabSchema = GridSchema(
      Seq(DimDef("t", IntCoords((6 until 9).toArray))),
      Seq(VarDef("x", Seq("t"), GDouble)))
    val e = intercept[IllegalArgumentException] {
      ZarrGridStore.appendFromRows(slab, slabSchema, root, "t")
    }
    assert(e.getMessage.contains("shard index layout"), e.getMessage)
  }

  test("append rejects layouts the staged encoding would corrupt") {
    // a hand-authored big-endian tree passes the old keyPrefix/dimSep
    // guard but must fail the layout guard loudly
    val dir = tmp()
    val root = dir.resolve("be").toString
    java.nio.file.Files.createDirectories(Paths.get(root, "v"))
    java.nio.file.Files.createDirectories(Paths.get(root, "t"))
    def put(rel: String, s: String) =
      Files.write(Paths.get(root, rel), s.getBytes("UTF-8"))
    put(".zgroup", """{"zarr_format":2}""")
    put("t/.zarray",
      """{"zarr_format":2,"shape":[4],"chunks":[4],"dtype":"<f8",
        |"compressor":null,"fill_value":null,"order":"C",
        |"filters":null}""".stripMargin)
    put("t/.zattrs", """{"_ARRAY_DIMENSIONS":["t"]}""")
    val tb = java.nio.ByteBuffer.allocate(32)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until 4).foreach(i => tb.putDouble(i.toDouble))
    Files.write(Paths.get(root, "t", "0"), tb.array())
    put("v/.zarray",
      """{"zarr_format":2,"shape":[4],"chunks":[2],"dtype":">f8",
        |"compressor":null,"fill_value":null,"order":"C",
        |"filters":null}""".stripMargin)
    put("v/.zattrs", """{"_ARRAY_DIMENSIONS":["t"]}""")
    val vb = java.nio.ByteBuffer.allocate(16)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    vb.putDouble(1.0); vb.putDouble(2.0)
    Files.write(Paths.get(root, "v", "0"), vb.array())
    vb.clear(); vb.putDouble(3.0); vb.putDouble(4.0)
    Files.write(Paths.get(root, "v", "1"), vb.array())

    import spark.implicits._
    val slab = Seq((4.0, 9.0), (5.0, 10.0)).toDF("t", "v")
    val slabSchema = GridSchema(
      Seq(DimDef("t", DoubleCoords(Array(4.0, 5.0)))),
      Seq(VarDef("v", Seq("t"), GDouble)))
    val err = intercept[IllegalArgumentException] {
      ZarrGridStore.appendFromRows(slab, slabSchema, root, "t")
    }
    assert(err.getMessage.contains("little-endian"), err.getMessage)
  }
}
