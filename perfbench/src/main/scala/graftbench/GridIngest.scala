package graftbench

import graft.grid.{GridSchema, ZarrV3}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `grid_ingest`: the grid write path. Each pass builds a fresh Zarr v3
  * store from seeded rows, grows it twice along time (once from a chunk
  * boundary, once from the middle of a chunk, which merges the edge
  * chunk), writes a zonal-mean aggregate through the `zarr` data source
  * and scans the appended extent back.
  */
final class GridIngest(ctx: Ctx) extends Workload {
  import ctx.spark

  val g: Geometry =
    if (ctx.tiny) Geometry(0, 8, 12, 16, 4, 6)
    else Geometry(0, 30, 40, 60, 15, 20)
  private val law = T2mLaw(ctx.seed)
  private val baseT = 4 * g.chunkTime
  private val alignedT = g.chunkTime + g.chunkTime / 2
  private val unalignedT = g.chunkTime
  private val totalT = baseT + alignedT + unalignedT
  private val cellsPerT = g.nLat.toLong * g.nLon
  private var root = ""
  private var zonalRoot = ""
  private var lastStore = StoreStats(0, 0)
  private var previous = Seq.empty[String]
  private var appended: Acc = _
  private var zonal: (Long, Double) = _

  val warmPasses = 2

  def prepare(): Unit = ()

  def inputs: Map[String, Any] = Map("cells_per_pass" -> totalT * cellsPerT,
    "shape" -> Seq(totalT, g.nLat, g.nLon),
    "chunk_shape" -> Seq(g.chunkTime, g.chunkLat, g.chunkLon),
    "bytes_on_disk" -> lastStore.bytes, "files" -> lastStore.files)

  override def gridChunks(op: String): Long =
    g.copy(nTime = totalT).chunks

  def expect(): Unit = {
    val a = new Acc
    var zn = 0L
    var zs = 0.0
    for (t <- 0 until totalT; i <- 0 until g.nLat) {
      var s = 0.0
      for (j <- 0 until g.nLon) {
        val v = law.value(t, i, j)
        s += v
        if (t >= baseT) a.add(v, t, i, j)
      }
      zn += 1
      zs += s / g.nLon
    }
    appended = a
    zonal = (zn, zs)
  }

  /** Seeded rows of time steps [t0, t0 + nT), generated on executors. */
  private def rows(t0: Int, nT: Int): DataFrame = {
    val l = law
    val value = udf((t: Int, i: Int, j: Int) => l.value(t, i, j))
    val n = nT.toLong * cellsPerT
    spark.range(0, n, 1, math.max(1, (n / 200000L).toInt))
      .select((expr(s"id div $cellsPerT") + t0).cast("int").as("t"),
        expr(s"(id % $cellsPerT) div ${g.nLon}").cast("int").as("i"),
        (col("id") % g.nLon).cast("int").as("j"))
      .select(
        timestamp_micros(lit(Geometry.T0Micros) +
          col("t").cast("long") * Geometry.StepMicros).as("time"),
        (lit(89.0) - col("i") * 2.0).as("lat"),
        (col("j") * 3.0).as("lon"),
        value(col("t"), col("i"), col("j")).as("t2m"))
  }

  private def slab(t0: Int, nT: Int): GridSchema = Geometry.schema(g, t0, nT)

  def ops: Seq[Op] = Seq(
    Op("write_base", () => {
      root = s"${ctx.runDir}/ingest-${ctx.rec.pass}.zarr"
      zonalRoot = s"${ctx.runDir}/zonal-${ctx.rec.pass}.zarr"
      val st = ctx.grid("ZarrV3.writeFromRows")(ZarrV3.writeFromRows(
        rows(0, baseT), slab(0, baseT), g.chunkMap, root, "zstd"))
      ctx.expectEq("time extent", st.schema.dim("time").size, baseT)
    }),
    Op("append_aligned", () => {
      val st = ctx.grid("ZarrV3.appendFromRows")(ZarrV3.appendFromRows(
        rows(baseT, alignedT), slab(baseT, alignedT), root, "time"))
      ctx.expectEq("time extent", st.schema.dim("time").size, baseT + alignedT)
    }),
    Op("append_unaligned", () => {
      val t0 = baseT + alignedT
      val st = ctx.grid("ZarrV3.appendFromRows")(ZarrV3.appendFromRows(
        rows(t0, unalignedT), slab(t0, unalignedT), root, "time"))
      ctx.expectEq("time extent", st.schema.dim("time").size, totalT)
    }),
    Op("sql_write", () => {
      val src = ctx.sources("read.zarr")(spark.read.format("zarr").load(root))
      val agg = src.groupBy("time", "lat").agg(avg("t2m").as("t2m_zonal"))
      ctx.sources("write.zarr")(agg.write.format("zarr")
        .option("dims", "time,lat")
        .option("chunks", s"time=${g.chunkTime},lat=${g.chunkLat}")
        .option("compressor", "zstd").mode("overwrite").save(zonalRoot))
      val back = ctx.action("collect")(spark.read.format("zarr")
        .load(zonalRoot).agg(count(lit(1)), sum("t2m_zonal")).head)
      ctx.expectEq("zonal rows", back.getLong(0), zonal._1)
      ctx.expectNear("zonal sum", back.getDouble(1), zonal._2)
    }),
    Op("verify_read", () => {
      val st = ctx.grid("ZarrV3.open")(ZarrV3.open(root))
      def values(s: GridSchema) = s.dims.map(d =>
        d.name -> (0 until d.size).map(d.coords.internal))
      val coords = values(st.schema)
      val want = values(slab(0, totalT))
      ctx.expectEq("coordinates", coords, want)
      val src = ctx.sources("read.zarr")(spark.read.format("zarr").load(root))
      val r = ctx.action("collect")(src
        .filter(col("time") >= timestamp_micros(lit(Geometry.timeOf(baseT))))
        .agg(count(lit(1)), min("t2m"), max("t2m"), sum("t2m"),
          max(struct("t2m", "time", "lat", "lon")).as("am"))
        .select(col("count(1)"), col("min(t2m)"), col("max(t2m)"),
          col("sum(t2m)"), col("am.t2m"), unix_micros(col("am.time")),
          col("am.lat"), col("am.lon")).head)
      ctx.expectEq("count", r.getLong(0), appended.n)
      ctx.expectEq("min", r.getFloat(1), appended.min)
      ctx.expectEq("max", r.getFloat(2), appended.max)
      ctx.expectNear("sum", r.getDouble(3), appended.sum)
      ctx.expectEq("argmax", (r.getFloat(4), r.getLong(5), r.getDouble(6),
        r.getDouble(7)), (appended.max, appended.arg._1, appended.arg._2,
        appended.arg._3))
      lastStore = StoreStats.of(root)
    }))

  /** Deletes the stores of the pass before; the last pass's store stays
    * for [[layerExtras]] and goes with the run directory.
    */
  override def afterPass(): Unit = {
    previous.foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    previous = Seq(root, zonalRoot)
  }

  /** Figures of the last pass's store. */
  override def layerExtras(): Map[String, Double] = Map(
    "grid.decode_mb_per_s" -> StoreStats.decodeMbPerS(root),
    "grid.stored_bytes_per_cell" -> lastStore.bytes.toDouble / (totalT * cellsPerT),
    "grid.files_written" -> lastStore.files.toDouble)
}
