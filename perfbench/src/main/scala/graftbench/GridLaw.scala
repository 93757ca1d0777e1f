package graftbench

import graft.grid._

/** Geometry of a seeded (time, lat, lon) grid: 6-hourly steps from
  * 2021-01-01 UTC, latitudes descending by 2 degrees from 89, longitudes
  * ascending by 3 degrees from 0.
  */
final case class Geometry(nTime: Int, nLat: Int, nLon: Int,
    chunkTime: Int, chunkLat: Int, chunkLon: Int) {
  def cells: Long = nTime.toLong * nLat * nLon
  def chunks: Long = ceil(nTime, chunkTime).toLong * ceil(nLat, chunkLat) *
    ceil(nLon, chunkLon)
  private def ceil(a: Int, b: Int): Int = (a + b - 1) / b
  def chunkMap: Map[String, Int] =
    Map("time" -> chunkTime, "lat" -> chunkLat, "lon" -> chunkLon)
}

object Geometry {
  val T0Micros: Long = java.time.Instant.parse("2021-01-01T00:00:00Z")
    .toEpochMilli * 1000L
  val StepMicros: Long = 6L * 3600L * 1000000L
  def timeOf(t: Int): Long = T0Micros + t * StepMicros
  def latOf(i: Int): Double = 89.0 - 2.0 * i
  def lonOf(j: Int): Double = 3.0 * j
  def monthOf(t: Int): Int = java.time.Instant.ofEpochMilli(timeOf(t) / 1000L)
    .atZone(java.time.ZoneOffset.UTC).getMonthValue
  def sqlTime(t: Int): String = {
    val s = java.time.Instant.ofEpochMilli(timeOf(t) / 1000L).toString
    s"TIMESTAMP '${s.replace("T", " ").stripSuffix("Z")}'"
  }

  def schema(g: Geometry, t0: Int, nT: Int): GridSchema = GridSchema(
    Seq(DimDef("time", TimeCoords(Array.tabulate(nT)(k => timeOf(t0 + k)))),
      DimDef("lat", DoubleCoords(Array.tabulate(g.nLat)(latOf))),
      DimDef("lon", DoubleCoords(Array.tabulate(g.nLon)(lonOf)))),
    Seq(VarDef("t2m", Seq("time", "lat", "lon"), GFloat,
      Map("units" -> "K"))))
}

/** Seeded 2 m temperature law: a pole-to-equator gradient, a seasonal
  * cycle of opposite sign in each hemisphere, a diurnal wave travelling
  * with longitude, and per-cell noise from a hash of the seed and the
  * cell index. StrictMath keeps every evaluation bit-identical, so the
  * plain-Scala checker and the executors agree exactly.
  */
final case class T2mLaw(seed: Long) extends GridFun {
  private val phase = (Mix.hash(seed) >>> 11).toDouble / (1L << 53) *
    2.0 * math.Pi

  def value(t: Int, i: Int, j: Int): Float = {
    val lat = Geometry.latOf(i)
    val lon = Geometry.lonOf(j)
    val season = StrictMath.cos(2.0 * math.Pi * (t / 4.0) / 365.0 + phase)
    val diurnal = StrictMath.sin(2.0 * math.Pi * ((t % 4) / 4.0 + lon / 360.0))
    val cell = ((t.toLong << 40) ^ (i.toLong << 20) ^ j.toLong)
    val noise = (Mix.hash(seed * 0x9E3779B97F4A7C15L ^ cell) >>> 11).toDouble /
      (1L << 53)
    (288.0 - 0.45 * math.abs(lat) + 12.0 * season * (lat / 90.0) +
      4.0 * diurnal + 3.0 * (noise - 0.5)).toFloat
  }

  def apply(idx: Array[Int]): Double = value(idx(0), idx(1), idx(2)).toDouble
}

object Mix {
  /** SplitMix64 finalizer. */
  def hash(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
}

/** Running count / min / max / sum / argmax of float cells. The argmax
  * ties break like SQL `max(struct(t2m, time, lat, lon))`: the largest
  * value, then the latest time, the largest lat, the largest lon.
  */
final class Acc {
  var n = 0L
  var min = Float.PositiveInfinity
  var max = Float.NegativeInfinity
  var sum = 0.0
  var arg: (Long, Double, Double) = null

  def add(v: Float, t: Int, i: Int, j: Int): Unit = {
    n += 1; sum += v
    if (v < min) min = v
    if (v >= max) {
      val key = (Geometry.timeOf(t), Geometry.latOf(i), Geometry.lonOf(j))
      if (v > max || Acc.later(key, arg)) { max = v; arg = key }
    }
  }
  def mean: Double = sum / n
}

object Acc {
  def later(a: (Long, Double, Double), b: (Long, Double, Double)): Boolean =
    b == null || a._1 > b._1 || (a._1 == b._1 && (a._2 > b._2 ||
      (a._2 == b._2 && a._3 > b._3)))
}
