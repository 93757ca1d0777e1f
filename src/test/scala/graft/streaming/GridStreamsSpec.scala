package graft.streaming

import graft.{SparkTestBase, XarrayContext}
import graft.grid._
import graft.sources.ReadCounters
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

object GridStreamsSpec {
  // laws top-level so partition serialization does not capture the suite
  def tsMicros(k: Int): Long = 1600000000000000L + k.toLong * 3600000000L
  def durMicros(k: Int): Long = k.toLong * 1500000L + 250L

  final case class TsLaw() extends GridFun {
    def apply(idx: Array[Int]): Double = tsMicros(idx(0)).toDouble
  }
  final case class DurLaw() extends GridFun {
    def apply(idx: Array[Int]): Double = durMicros(idx(0)).toDouble
  }
}

class GridStreamsSpec extends SparkTestBase {

  final case class Cell(t: Int, lat: Double, lon: Double, air: Double)

  private def slab(t0: Int, t1: Int): Seq[Cell] =
    for {
      t <- t0 until t1
      i <- 0 until 12
      j <- 0 until 10
    } yield Cell(t, 75.0 - 2.5 * i, 200.0 + 2.5 * j,
      200.0 + t + 2.0 * i + 3.0 * j)

  private def cellsDf(cells: Seq[Cell]) = {
    import spark.implicits._
    cells.map(c => (c.t, c.lat, c.lon, c.air)).toDF("t", "lat", "lon", "air")
  }

  private def assertLaw(rows: Array[org.apache.spark.sql.Row]): Unit = {
    val law = Fixtures.linearGrid.laws("air")
    rows.foreach { r =>
      val t = r.getInt(0)
      val i = ((75.0 - r.getDouble(1)) / 2.5).round.toInt
      val j = ((r.getDouble(2) - 200.0) / 2.5).round.toInt
      assert(r.getDouble(3) == law(Array(t, i, j)), s"cell ($t,$i,$j)")
    }
  }

  /** A zstd v3 tree holding linearGrid t in [0, t1), chunked t=6. */
  private def v3Store(root: String, t1: Int): ZarrGridStore =
    ZarrV3.write(Fixtures.linearGridSlice(0, t1), root, Map("t" -> 6), "zstd")

  private def appendCells(root: String, t0: Int, t1: Int): ZarrGridStore =
    ZarrV3.appendFromRows(cellsDf(slab(t0, t1)),
      Fixtures.linearGridSlice(t0, t1).schema, root, "t")

  test("streaming append sink: micro-batches extend the store along t") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val root = java.nio.file.Files
      .createTempDirectory("graft-stream-append").toString + "/store"
    v3Store(root, 12)

    val input = MemoryStream[Cell]
    val q = GridStreams.appendSink(input.toDF(), root, "t").start()
    // two micro-batches, one 6-step chunk each
    input.addData(slab(12, 18): _*)
    q.processAllAvailable()
    input.addData(slab(18, 24): _*)
    q.processAllAvailable()
    q.stop()

    val store = ZarrV3.open(root)
    assert(store.schema.dim("t").size == 24)
    // a query straddling the two streamed batches sees one seamless
    // grid and still prunes: t >= 15 opens only the two streamed
    // chunks (2: t 12-17 boundary, 3: t 18-23) — 2 of 4
    val df = new XarrayContext(spark).dataFrame("streamed_grid", store,
      store.chunkMap, Seq("t", "lat", "lon"))
    ReadCounters.reset()
    val rows = df.filter(col("t") >= 15).collect()
    assert(rows.length == 9 * 12 * 10)
    assert(ReadCounters.partitionsOpened.sum() == 2L)
    assertLaw(rows)
    // streamed chunks carry value stats like written ones
    assert(store.varBounds("air", Seq((18, 6), (0, 12), (0, 10))).nonEmpty)

    // at-least-once replay: re-delivering an already-appended batch is
    // a no-op, not a duplicated slab
    GridStreams.appendBatch(cellsDf(slab(18, 24)), root, "t")
    assert(ZarrV3.open(root).schema.dim("t").size == 24)
    // an INCOMPLETE slab must fail fast — NaN-filling it and dropping
    // the remainder as a "replay" next batch would lose data silently
    val part = intercept[IllegalArgumentException] {
      GridStreams.appendBatch(cellsDf(slab(24, 30).drop(7)), root, "t")
    }
    assert(part.getMessage.contains("cells"))
    assert(ZarrV3.open(root).schema.dim("t").size == 24) // intact
    // a batch not closing whole chunks does not poison later batches:
    // the next one read-modify-writes the ragged edge chunk
    GridStreams.appendBatch(cellsDf(slab(24, 27)), root, "t")
    GridStreams.appendBatch(cellsDf(slab(27, 30)), root, "t")
    val grown = ZarrV3.open(root)
    assert(grown.schema.dim("t").size == 30)
    assertLaw(new XarrayContext(spark).scratchDataFrame("streamed_edge",
      grown, grown.chunkMap, Seq("t", "lat", "lon"))
      .filter(col("t") >= 24).collect())
  }

  test("zarr streaming append: unaligned batches, replay-safe, on s3a") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // the mock object store: the streaming sink's commits must take
    // the atomic-PUT protocol end to end (zero renames)
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.s3a.impl", classOf[MockS3FileSystem].getName)
    MockS3FileSystem.reset()
    try {
      val dir = java.nio.file.Files.createTempDirectory("graft-szarr")
      dir.toFile.deleteOnExit()
      val root = "s3a:" + dir.toString + "/store"
      ZarrGridStore.writeFromRows(
        cellsDf(slab(0, 7)), Fixtures.linearGridSlice(0, 7).schema,
        Map("t" -> 6), root, "zstd:3")
      MockS3FileSystem.reset() // count the streamed appends only

      val input = MemoryStream[Cell]
      val q = GridStreams.appendSink(input.toDF(), root, "t").start()
      // UNALIGNED batches (7 -> 13 -> 24 with chunk 6): each append
      // read-modify-writes the edge chunk — no whole-chunk batch rule
      input.addData(slab(7, 13): _*)
      q.processAllAvailable()
      input.addData(slab(13, 24): _*)
      q.processAllAvailable()
      q.stop()
      assert(MockS3FileSystem.renameCalls.get() == 0,
        "streaming zarr append renamed on an object store")

      val store = ZarrGridStore.open(root)
      assert(store.schema.dim("t").size == 24)
      val rows = new XarrayContext(spark)
        .scratchDataFrame("szarr", store, store.chunkMap,
          Seq("t", "lat", "lon"))
        .filter(col("t") >= 5).collect()
      assert(rows.length == 19 * 12 * 10)
      assertLaw(rows)
      // replay: an already-appended slab is a no-op
      GridStreams.appendBatch(cellsDf(slab(13, 24)), root, "t")
      assert(ZarrGridStore.open(root).schema.dim("t").size == 24)
      // incomplete slabs still fail fast
      val part = intercept[IllegalArgumentException] {
        GridStreams.appendBatch(cellsDf(slab(24, 26)).limit(100),
          root, "t")
      }
      assert(part.getMessage.contains("cells"))
    } finally MockS3FileSystem.reset()
  }

  test("tailCells: timestamp/duration variables surface as external types") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-tail-ts").toString + "/store"
    val schema = GridSchema(
      Seq(DimDef("t", IntCoords((0 until 8).toArray))),
      Seq(VarDef("obs_ts", Seq("t"), GTimestamp),
        VarDef("lag", Seq("t"), GDuration)))
    ZarrV3.write(
      SyntheticGridStore(schema, Map(
        "obs_ts" -> GridStreamsSpec.TsLaw(),
        "lag" -> GridStreamsSpec.DurLaw())),
      root, Map("t" -> 4), "zstd")
    val qt = GridStreams.tailCells(spark, root, "obs_ts")
      .writeStream.outputMode("append").format("memory")
      .queryName("tail_ts").start()
    qt.processAllAvailable(); qt.stop()
    val ts = spark.table("tail_ts").collect()
      .map(r => r.getInt(0) -> r.getTimestamp(1)).toMap
    assert(ts.size == 8)
    (0 until 8).foreach { k =>
      val expect = org.apache.spark.sql.catalyst.util.DateTimeUtils
        .toJavaTimestamp(GridStreamsSpec.tsMicros(k))
      assert(ts(k) == expect, s"t=$k")
    }
    val qd = GridStreams.tailCells(spark, root, "lag")
      .writeStream.outputMode("append").format("memory")
      .queryName("tail_dur").start()
    qd.processAllAvailable(); qd.stop()
    val dur = spark.table("tail_dur").collect()
      .map(r => r.getInt(0) -> r.getAs[java.time.Duration](1)).toMap
    assert(dur.size == 8)
    (0 until 8).foreach { k =>
      val m = GridStreamsSpec.durMicros(k)
      assert(dur(k) ==
        java.time.Duration.ofSeconds(m / 1000000L, (m % 1000000L) * 1000L),
        s"t=$k")
    }
  }

  test("tailCells: restart from checkpoint delivers each cell exactly once") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-tail-restart").toString
    val root = base + "/store"
    val ckpt = base + "/ckpt"
    v3Store(root, 12)
    val out = base + "/out"
    def startQuery() = GridStreams.tailCells(spark, root, "air")
      .writeStream.outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", ckpt).start()
    def cells() = spark.read.parquet(out).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
    // run 1: consume the initial chunks, then die (stop = crash proxy;
    // the checkpoint + sink file log are the only surviving state)
    val q1 = startQuery()
    q1.processAllAvailable(); q1.stop()
    assert(cells().length == 12 * 12 * 10)
    // the archive grows while the query is down
    appendCells(root, 12, 24)
    // run 2: same checkpoint — must deliver ONLY the new chunks (no
    // re-delivery of checkpointed files, no gaps)
    val q2 = startQuery()
    q2.processAllAvailable(); q2.stop()
    val all = cells()
    assert(all.length == 24 * 12 * 10,
      s"${all.length} cells after restart — lost or duplicated chunks")
    assert(all.distinct.length == all.length,
      "duplicate cells across restart")
    assert(all.count(_._1 < 12) == 12 * 12 * 10,
      "pre-restart chunks re-delivered or dropped")
  }

  /** `live` and `twin` hold t 0..11; twin also commits t 12..17, and
    * its new chunk FILE is copied into live ahead of any metadata — a
    * torn append. Returns the metadata files (committer order, root
    * `zarr.json` last) that complete live's commit.
    */
  private def tornStore(live: String, twin: String): Seq[String] = {
    import java.nio.file.{Files, Paths}
    v3Store(live, 12)
    v3Store(twin, 12)
    appendCells(twin, 12, 18)
    Files.createDirectories(Paths.get(live, "air", "c", "2", "0"))
    Files.copy(Paths.get(twin, "air", "c", "2", "0", "0"),
      Paths.get(live, "air", "c", "2", "0", "0"))
    Seq("t/c/0", "t/zarr.json", "air/zarr.json", "zarr.json")
  }

  test("tailCells: torn append heals once the metadata commit lands") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val base = Files.createTempDirectory("graft-tail-torn").toString
    val live = base + "/live"
    val twin = base + "/twin"
    val commit = tornStore(live, twin)
    // the stream sees the file; decode blocks in the metadata-refresh
    // backoff; 1.5 s later the "writer" commits (metadata copy) and the
    // batch completes instead of dying
    val committer = new Thread(() => {
      Thread.sleep(1500L)
      commit.foreach(f => Files.copy(Paths.get(twin, f), Paths.get(live, f),
        StandardCopyOption.REPLACE_EXISTING))
    })
    committer.start()
    val q = GridStreams.tailCells(spark, live, "air")
      .writeStream.outputMode("append").format("memory")
      .queryName("tail_torn").start()
    q.processAllAvailable(); q.stop(); committer.join()
    val rows = spark.table("tail_torn").collect()
    assert(rows.length == 18 * 12 * 10,
      s"${rows.length} cells — torn chunk not healed")
    assertLaw(rows.filter(_.getInt(0) >= 12))
  }

  test("tailCells: a commit that never lands fails the query, not silently") {
    import java.nio.file.Files
    val base = Files.createTempDirectory("graft-tail-dead").toString
    val live = base + "/live"
    tornStore(live, base + "/twin")
    val q = GridStreams.tailCells(spark, live, "air")
      .writeStream.outputMode("append").format("memory")
      .queryName("tail_dead").start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
      throw q.exception.getOrElse(
        new IllegalStateException("query survived a torn store"))
    }
    assert(e.getMessage.contains("torn append") ||
      Option(e.getCause).exists(_.getMessage.contains("torn append")),
      s"unexpected failure: $e")
    q.stop()
  }

  test("tailCells: appended chunks arrive as later stream batches") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-tail").toString + "/store"
    v3Store(root, 12)
    val q = GridStreams.tailCells(spark, root, "air")
      .writeStream.outputMode("append").format("memory")
      .queryName("tail_out").start()
    q.processAllAvailable()
    assert(spark.table("tail_out").count() == 12L * 12 * 10)
    // the archive grows; the stream picks up exactly the new chunks
    appendCells(root, 12, 24)
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("tail_out").collect()
    assert(rows.length == 24 * 12 * 10)
    assertLaw(rows)
    // no duplicates: every (t, lat, lon) exactly once
    assert(rows.map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .distinct.length == rows.length)
  }

  test("tailCellsZarr: blosc tree streams cells; padded edges dropped") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-ztail").toString + "/store"
    // ragged t edge (12 = 5+5+2): the stored edge chunk is PADDED per
    // the v2 spec; the stream must drop the padding cells
    ZarrGridStore.write(Fixtures.linearGridSlice(0, 12), root,
      Map("t" -> 5), "blosc")
    val q = GridStreams.tailCells(spark, root, "air")
      .writeStream.outputMode("append").format("memory")
      .queryName("ztail_out").start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("ztail_out").collect()
    assert(rows.length == 12 * 12 * 10, s"got ${rows.length} cells")
    assertLaw(rows)
    assert(rows.map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .distinct.length == rows.length)
  }

  test("tailCellsZarr: appended chunk files arrive as later batches") {
    val base = java.nio.file.Files.createTempDirectory("graft-ztail2")
    val root = base.resolve("store").toString
    val full = base.resolve("full").toString
    // chunk-aligned initial extent (file streams never re-deliver a
    // rewritten edge chunk)
    ZarrGridStore.write(Fixtures.linearGridSlice(0, 12), root,
      Map("t" -> 6), "zstd")
    ZarrGridStore.write(Fixtures.linearGrid, full,
      Map("t" -> 6), "zstd")
    val q = GridStreams.tailCells(spark, root, "air")
      .writeStream.outputMode("append").format("memory")
      .queryName("ztail_grow").start()
    q.processAllAvailable()
    assert(spark.table("ztail_grow").count() == 12L * 12 * 10)
    // a forecast cycle lands: new chunk files FIRST, then the grown
    // metadata (array shape, t coordinate, consolidated view)
    def cp(rel: String): Unit = java.nio.file.Files.copy(
      java.nio.file.Paths.get(full, rel),
      java.nio.file.Paths.get(root, rel),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    cp("air/2.0.0"); cp("air/3.0.0")
    cp("t/0"); cp("t/.zarray")
    cp("air/.zarray")
    cp(".zmetadata")
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ztail_grow").collect()
    assert(rows.length == 24 * 12 * 10, s"got ${rows.length} cells")
    assertLaw(rows)
    assert(rows.map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .distinct.length == rows.length)
  }
}
