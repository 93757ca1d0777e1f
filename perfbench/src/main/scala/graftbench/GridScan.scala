package graftbench

import graft.XarrayContext
import graft.grid.{GridResult, SyntheticGridStore, ZarrV3}
import org.apache.spark.sql.Row

/** Answers of every `grid_scan` op, computed from the value law by plain
  * Scala loops (no Spark, no graft).
  */
final case class GridScanExpected(full: Acc, window: Acc,
    clim: Map[(Int, Int), (Long, Double)], box: Map[Long, (Long, Double)],
    threshold: Double, filtered: (Long, Float, Float), metaCount: Long,
    metaSum: Double, joined: Map[Double, (Long, Double)],
    toGrid: Map[(Double, Double), (Long, Double)])

/** `grid_scan`: the array read path over one zstd Zarr v3 store. */
final class GridScan(ctx: Ctx) extends Workload {
  import ctx.spark

  val g: Geometry =
    if (ctx.tiny) Geometry(96, 12, 16, 24, 6, 8)
    else Geometry(292, 60, 60, 73, 20, 20)
  private val law = T2mLaw(ctx.seed)
  private val root = s"${ctx.runDir}/t2m.zarr"
  private var store: StoreStats = StoreStats(0, 0)

  // query regions, as index ranges [from, until)
  private val window = (g.nTime * 2 / 5 + 3, g.nTime / 2 + 5)
  private val boxLat = (g.nLat / 3, 2 * g.nLat / 3)
  private val boxLon = (g.nLon / 4, 3 * g.nLon / 4)
  private val metaFrom = g.chunkTime * (g.nTime / g.chunkTime / 2)
  private val joinLats = Seq(1, 3, 5).map(k => g.chunkLat + k)
  private val gridTime = (g.nTime / 3, g.nTime / 3 + 8)
  private val gridLat = (0, g.nLat / 3)
  private val gridLon = (0, g.nLon / 6)
  private var exp: GridScanExpected = _

  private def in(r: (Int, Int), k: Int): Boolean = k >= r._1 && k < r._2

  val warmPasses = 3

  def prepare(): Unit = {
    val src = SyntheticGridStore(Geometry.schema(g, 0, g.nTime),
      Map("t2m" -> law))
    ZarrV3.writeDistributed(src, root, g.chunkMap, "zstd")
    store = StoreStats.of(root)
    import spark.implicits._
    (0 until g.nLat).map(i => (Geometry.latOf(i), joinLats.contains(i)))
      .toDF("lat", "keep").write.mode("overwrite")
      .parquet(s"${ctx.runDir}/lats.parquet")
    spark.read.parquet(s"${ctx.runDir}/lats.parquet")
      .createOrReplaceTempView("lats")
  }

  def inputs: Map[String, Any] = Map("cells" -> g.cells, "chunks" -> g.chunks,
    "bytes_on_disk" -> store.bytes, "files" -> store.files,
    "shape" -> Seq(g.nTime, g.nLat, g.nLon),
    "chunk_shape" -> Seq(g.chunkTime, g.chunkLat, g.chunkLon))

  override def gridChunks(op: String): Long = g.chunks

  def expect(): Unit = {
    val full, win = new Acc
    val clim = scala.collection.mutable.HashMap.empty[(Int, Int), (Long, Double)]
    val box = scala.collection.mutable.HashMap.empty[Long, (Long, Double)]
    var metaN = 0L
    var metaS = 0.0
    val joined = scala.collection.mutable.HashMap.empty[Double, (Long, Double)]
    val tg = scala.collection.mutable.HashMap.empty[(Double, Double), (Long, Double)]
    def bump[K](m: scala.collection.mutable.Map[K, (Long, Double)], k: K,
        v: Float): Unit = {
      val (n, s) = m.getOrElse(k, (0L, 0.0))
      m(k) = (n + 1, s + v)
    }
    for (t <- 0 until g.nTime) {
      val month = Geometry.monthOf(t)
      val time = Geometry.timeOf(t)
      for (i <- 0 until g.nLat; j <- 0 until g.nLon) {
        val v = law.value(t, i, j)
        full.add(v, t, i, j)
        if (in(window, t)) win.add(v, t, i, j)
        bump(clim, (month, i), v)
        if (in(boxLat, i) && in(boxLon, j)) bump(box, time, v)
        if (t >= metaFrom) { metaN += 1; metaS += v }
        if (joinLats.contains(i)) bump(joined, Geometry.latOf(i), v)
        if (in(gridTime, t) && in(gridLat, i) && in(gridLon, j))
          bump(tg, (Geometry.latOf(i), Geometry.lonOf(j)), v)
      }
    }
    // a threshold near the top of the range, so zone maps prune most
    // chunks
    val thr = full.max.toDouble - 1.0
    var fN = 0L
    var fMin = Float.PositiveInfinity
    var fMax = Float.NegativeInfinity
    for (t <- 0 until g.nTime; i <- 0 until g.nLat; j <- 0 until g.nLon) {
      val v = law.value(t, i, j)
      if (v.toDouble > thr) {
        fN += 1; fMin = math.min(fMin, v); fMax = math.max(fMax, v)
      }
    }
    exp = GridScanExpected(full, win, clim.toMap, box.toMap, thr,
      (fN, fMin, fMax), metaN, metaS, joined.toMap, tg.toMap)
  }

  private def sql(q: String): Array[Row] = ctx.action("collect") {
    spark.sql(q).collect()
  }

  private def aggSql(where: String): String =
    s"""SELECT n, mn, mx, s, am.t2m, unix_micros(am.time), am.lat, am.lon
       |FROM (SELECT count(*) AS n, min(t2m) AS mn, max(t2m) AS mx,
       |  sum(t2m) AS s, max(struct(t2m, time, lat, lon)) AS am
       |  FROM wx $where)""".stripMargin

  private def checkAgg(r: Row, e: Acc): Unit = {
    ctx.expectEq("count", r.getLong(0), e.n)
    ctx.expectEq("min", r.getFloat(1), e.min)
    ctx.expectEq("max", r.getFloat(2), e.max)
    ctx.expectNear("sum", r.getDouble(3), e.sum)
    ctx.expectEq("argmax", (r.getFloat(4), r.getLong(5), r.getDouble(6),
      r.getDouble(7)), (e.max, e.arg._1, e.arg._2, e.arg._3))
  }

  private def latRange(r: (Int, Int)): String =
    s"lat BETWEEN ${Geometry.latOf(r._2 - 1)} AND ${Geometry.latOf(r._1)}"
  private def lonRange(r: (Int, Int)): String =
    s"lon BETWEEN ${Geometry.lonOf(r._1)} AND ${Geometry.lonOf(r._2 - 1)}"
  private def timeRange(r: (Int, Int)): String =
    s"time >= ${Geometry.sqlTime(r._1)} AND time < ${Geometry.sqlTime(r._2)}"

  private def checkGroups[K](rows: Array[Row], key: Row => K,
      exp: Map[K, (Long, Double)]): Unit = {
    ctx.expectEq("groups", rows.length, exp.size)
    rows.foreach { r =>
      val k = key(r)
      val (n, s) = exp.getOrElse(k, throw new WrongAnswer(
        s"${ctx.rec.op}: unexpected group $k"))
      ctx.expectEq(s"count[$k]", r.getAs[Long]("n"), n)
      ctx.expectNear(s"mean[$k]", r.getAs[Double]("a"), s / n)
    }
  }

  def ops: Seq[Op] = Seq(
    Op("open", () => {
      val st = ctx.grid("ZarrV3.open")(ZarrV3.open(root))
      ctx.sources("fromDataset") {
        new XarrayContext(spark).fromDataset("wx", st, g.chunkMap)
      }
      val dims = st.schema.dims.map(d => d.name -> d.size)
      ctx.expectEq("dims", dims, Seq("time" -> g.nTime, "lat" -> g.nLat,
        "lon" -> g.nLon))
    }),
    Op("full_agg", () => checkAgg(sql(aggSql("")).head, exp.full)),
    Op("climatology", () => checkGroups(
      sql("""SELECT month(time) AS m, lat, count(*) AS n, avg(t2m) AS a
            |FROM wx GROUP BY month(time), lat""".stripMargin),
      r => (r.getInt(0), math.round((89.0 - r.getDouble(1)) / 2.0).toInt),
      exp.clim)),
    Op("time_window", () =>
      checkAgg(sql(aggSql(s"WHERE ${timeRange(window)}")).head, exp.window)),
    Op("space_box", () => checkGroups(
      sql(s"""SELECT unix_micros(time) AS t, count(*) AS n, avg(t2m) AS a
             |FROM wx WHERE ${latRange(boxLat)} AND ${lonRange(boxLon)}
             |GROUP BY time""".stripMargin),
      r => r.getLong(0), exp.box)),
    Op("value_filter", () => {
      val r = sql(s"""SELECT count(*), min(t2m), max(t2m) FROM wx
                     |WHERE t2m > ${exp.threshold}""".stripMargin).head
      ctx.expectEq("filtered", (r.getLong(0), r.getFloat(1), r.getFloat(2)),
        exp.filtered)
    }),
    Op("meta_count_sum", () => {
      val where = s"WHERE time >= ${Geometry.sqlTime(metaFrom)}"
      val n = sql(s"SELECT count(*) FROM wx $where").head.getLong(0)
      val s = sql(s"SELECT sum(t2m) FROM wx $where").head.getDouble(0)
      ctx.expectEq("count", n, exp.metaCount)
      ctx.expectNear("sum", s, exp.metaSum)
    }),
    Op("dim_join", () => checkGroups(
      sql("""SELECT w.lat, count(*) AS n, avg(w.t2m) AS a
            |FROM wx w JOIN (SELECT lat FROM lats WHERE keep) l
            |ON w.lat = l.lat GROUP BY w.lat""".stripMargin),
      r => r.getDouble(0), exp.joined)),
    Op("to_grid", () => {
      val df = spark.sql(
        s"""SELECT lat, lon, avg(t2m) AS t2m FROM wx
           |WHERE ${timeRange(gridTime)} AND ${latRange(gridLat)}
           |AND ${lonRange(gridLon)} GROUP BY lat, lon""".stripMargin)
      val grid = ctx.grid("GridResult.toGrid")(GridResult.toGrid(df,
        Seq("lat", "lon")))
      ctx.expectEq("shape", grid.shape,
        Seq(gridLat._2 - gridLat._1, gridLon._2 - gridLon._1))
      val lats = grid.dims(0)._2
      val lons = grid.dims(1)._2
      for (a <- lats.indices; b <- lons.indices) {
        val k = (lats(a).asInstanceOf[Double], lons(b).asInstanceOf[Double])
        val (n, s) = exp.toGrid.getOrElse(k, throw new WrongAnswer(
          s"to_grid: unexpected cell $k"))
        ctx.expectNear(s"cell$k", grid("t2m", a, b), s / n)
      }
    }))

  override def layerExtras(): Map[String, Double] = Map(
    "grid.decode_mb_per_s" -> StoreStats.decodeMbPerS(root),
    "grid.stored_bytes_per_cell" -> store.bytes.toDouble / g.cells,
    "grid.files_written" -> store.files.toDouble)
}

/** Files and bytes of a store directory tree. */
final case class StoreStats(files: Long, bytes: Long)

object StoreStats {
  def of(root: String): StoreStats = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try {
      val fs = s.filter(p => java.nio.file.Files.isRegularFile(p)).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
      StoreStats(fs.length, fs.map(java.nio.file.Files.size).sum)
    } finally s.close()
  }

  /** Decoded MB per second of `readVar` over every chunk of the store's
    * data variables, single-threaded on the driver.
    */
  def decodeMbPerS(root: String): Double = {
    val st = ZarrV3.open(root)
    var bytes = 0L
    val t0 = System.nanoTime()
    st.schema.vars.filter(_.dims.nonEmpty).foreach { v =>
      val sizes = v.dims.map(st.schema.dim(_).size)
      val chunk = v.dims.map(d => st.chunkMap.getOrElse(d, st.schema.dim(d).size))
      def blocks(k: Int): Seq[List[(Int, Int)]] =
        if (k == sizes.length) Seq(Nil)
        else for {
          start <- 0 until sizes(k) by chunk(k)
          rest <- blocks(k + 1)
        } yield (start, math.min(chunk(k), sizes(k) - start)) :: rest
      blocks(0).foreach { b =>
        st.readVar(v.name, b)
        bytes += b.map(_._2.toLong).product * v.dtype.byteWidth
      }
    }
    val secs = (System.nanoTime() - t0) / 1e9
    bytes / 1e6 / secs
  }
}
