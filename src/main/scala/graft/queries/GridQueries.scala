package graft.queries

import graft.XarrayContext
import graft.grid.Fixtures
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.immutable.ListMap

/** The array->table pivot itself, exercised through the grid DSv2 source
  * (SURVEY §2C item 24). A deterministic linear-law grid is registered via
  * `XarrayContext` and queried; the DuckDB oracle reconstructs the same
  * pivoted table from `generate_series` cross products with bit-identical
  * double arithmetic, so the hash gate covers the source end-to-end.
  */
object GridQueries {

  type Q = (SparkSession, String) => DataFrame

  private def grid(s: SparkSession): DataFrame =
    new XarrayContext(s).dataFrame(
      "linear_grid", Fixtures.linearGrid, Map("t" -> 6), Seq("t", "lat", "lon"))

  /** `Fixtures.linearGrid` as a zstd Zarr v3 tree chunked t=6, written
    * once per JVM under `name` and reopened per call.
    */
  private def stagedLinearV3(name: String): graft.grid.ZarrGridStore =
    graft.grid.ZarrV3.open(QueryTmp.staged(name)(base =>
      graft.grid.ZarrV3.write(Fixtures.linearGrid, s"$base/store",
        Map("t" -> 6), "zstd")) + "/store")

  // pivoted table reconstructed in DuckDB: dims t (0..23), i (0..11), j (0..9)
  private val oracleGrid =
    """grid AS (
      |  SELECT t, 75.0 - 2.5*i AS lat, 200.0 + 2.5*j AS lon,
      |         200.0 + t + 2.0*i + 3.0*j AS air
      |  FROM generate_series(0, 23) g1(t),
      |       generate_series(0, 11) g2(i),
      |       generate_series(0, 9) g3(j))""".stripMargin

  val queries: ListMap[String, Q] = ListMap(
    // full pivot: every cell of the virtual table
    "pivot_grid" -> ((s, _) =>
      grid(s).select(col("t").cast("long").as("t"), col("lat"), col("lon"),
        col("air"))),

    // aggregation over the pivot (avg of integer-valued doubles is exact
    // under any summation order, so raw doubles hash-match)
    "pivot_grid_agg" -> ((s, _) =>
      grid(s).groupBy("lat").agg(avg("air").as("avg_air"))),

    // xarray idxmax("t"): the coordinate where the variable peaks, per
    // remaining cell — max_by/arg_max on both engines (one partial-agg
    // shuffle, no window). The fixture law is strictly monotone in t,
    // so the argmax is unique and the gate deterministic.
    "pivot_grid_idxmax" -> ((s, _) =>
      grid(s).groupBy("lat", "lon")
        .agg(max_by(col("t"), col("air")).cast("long").as("t_peak"),
          max(col("air")).as("peak_air"))),

    // xarray idxmin(dim="t") — the argmax pair's other half
    "pivot_grid_idxmin" -> ((s, _) =>
      grid(s).groupBy("lat", "lon")
        .agg(min_by(col("t"), col("air")).cast("long").as("t_low"),
          min(col("air")).as("low_air"))),

    // filter exercising zone-map pruning (t chunks of 6: keeps 2 of 4
    // partitions) + projection pushdown (only `air` is read)
    "pivot_grid_filter" -> ((s, _) =>
      grid(s)
        .filter(col("t").between(6, 17) && col("lat") > 60.0)
        .groupBy("lon").agg(
          count(lit(1)).as("cnt"),
          avg("air").as("avg_air"))),

    // climatology-anomaly self-join over the grid source (the reference's
    // case 04 shape, with integer-exact arithmetic for the oracle)
    "pivot_grid_anomaly" -> ((s, _) => {
      val g = grid(s)
      val clim = g.groupBy("lat", "lon").agg(avg("air").as("m"))
      g.join(clim, Seq("lat", "lon"))
        .select(col("t").cast("long").as("t"), col("lat"), col("lon"),
          (col("air") - col("m")).as("anom"))
    }),

    // xarray `where(mask)`: shape-preserving masking — every cell
    // stays, sea cells carry NULL (xarray's NaN) — exercising the
    // null-value path end-to-end through pivot, join and the gate
    "pivot_grid_where" -> ((s, _) => {
      val g = grid(s)
      val m = new XarrayContext(s).dataFrame(
        "where_mask", Fixtures.maskGrid, Map("lat" -> 6), Seq("lat", "lon"))
      g.join(m, Seq("lat", "lon"))
        .select(col("t").cast("long").as("t"), col("lat"), col("lon"),
          when(col("mask") === 1.0, col("air")).as("air_masked"))
    }),

    // xarray `interp`-style temporal upsampling: midpoints between
    // consecutive steps per cell via ONE lead window per series;
    // (a + b) / 2 on integer-valued doubles is exact
    "pivot_grid_interp" -> ((s, _) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lat", "lon").orderBy("t")
      grid(s)
        .select(col("t"), col("lat"), col("lon"), col("air"),
          lead("air", 1).over(w).as("nxt"))
        .filter(col("nxt").isNotNull)
        .select((col("t").cast("double") + 0.5).as("t_mid"), col("lat"),
          col("lon"), ((col("air") + col("nxt")) / 2.0).as("air_mid"))
    }),

    // xarray `coarsen(lat=2, lon=2).mean()`: 2x2 spatial mean pooling
    // — one agg shuffle keyed on the pooled block; the index-recovery
    // arithmetic ((75 - lat) / 2.5) is exact dyadic division on the
    // fixture's coordinate values, so both engines derive identical
    // block keys. The downsampling verb of every regridding pipeline.
    "pivot_grid_coarsen" -> ((s, _) => {
      val li = (lit(75.0) - col("lat")) / lit(2.5)
      val lj = (col("lon") - lit(200.0)) / lit(2.5)
      grid(s)
        .groupBy(col("t").cast("long").as("t"),
          floor(li / 2.0).cast("long").as("lat_blk"),
          floor(lj / 2.0).cast("long").as("lon_blk"))
        .agg(count(lit(1)).as("cnt"), avg("air").as("air_mean"))
    }),

    // xarray `groupby_bins("lat", ...)`: bin a coordinate into value
    // ranges and aggregate per (bin, t) — the zonal-band statistics
    // verb. The bin key floor((75 - lat) / 7.5) is exact dyadic
    // arithmetic on the fixture's coordinates ((75-lat)/2.5 = i, i/3
    // halves exactly), so both engines derive identical bins; one agg
    // shuffle keyed (bin, t).
    "pivot_grid_bins" -> ((s, _) =>
      grid(s)
        .groupBy(floor((lit(75.0) - col("lat")) / lit(7.5)).cast("long")
          .as("lat_bin"), col("t").cast("long").as("t"))
        .agg(count(lit(1)).as("cnt"), avg("air").as("air_mean"))),

    // xarray `weighted(w).mean("lat")`: area-weighted zonal mean — the
    // cos-latitude weighting of every climate mean, with a dyadic
    // integer-valued weight law w = (lat - 45) / 2.5 (= 12 - i) in
    // place of cos so both engines compute bit-identical doubles.
    // SUM(air*w)/SUM(w) pushes as two partial aggregates — one shuffle
    // keyed (t, lon), no window.
    "pivot_grid_wmean" -> ((s, _) => {
      val w = (col("lat") - lit(45.0)) / lit(2.5)
      grid(s)
        .groupBy(col("t").cast("long").as("t"), col("lon"))
        .agg((sum(col("air") * w) / sum(w)).as("air_wmean"))
    }),

    // xarray polyfit(dim='t', deg=1) analogue: per-cell OLS trend of
    // air over the time index — the per-pixel climate-trend map. One
    // map-side-combinable groupBy of five moment sums (all
    // integer-valued doubles on this grid: exact, order-free), then
    // the closed-form slope/intercept as ONE division each — no
    // iterative fit, no per-cell collect.
    "pivot_grid_trend" -> ((s, _) => {
      val g = grid(s).select(col("t").cast("double").as("x"),
        col("lat"), col("lon"), col("air"))
      g.groupBy("lat", "lon")
        .agg(count(lit(1)).cast("double").as("n"),
          sum(col("x")).as("sx"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("air")).as("sy"),
          sum(col("x") * col("air")).as("sxy"))
        .withColumn("den",
          col("n") * col("sxx") - col("sx") * col("sx"))
        .select(col("lat"), col("lon"),
          ((col("n") * col("sxy") - col("sx") * col("sy")) / col("den"))
            .as("slope"),
          ((col("sxx") * col("sy") - col("sx") * col("sxy")) / col("den"))
            .as("intercept"))
    }),

    // xarray.corr(a, b, dim='t') analogue: per-lat Pearson correlation
    // of two co-dimensional variables, from the same moment-sum shape
    // as pivot_grid_trend (one map-side-combinable groupBy; sums are
    // integer-valued doubles, exact and order-free; sqrt is IEEE
    // correctly-rounded on both engines). The b variable is QUADRATIC
    // in t so |r| < 1 and the full formula is exercised.
    "pivot_grid_corr" -> ((s, _) => {
      import graft.grid._
      val st = SyntheticGridStore(
        GridSchema(
          Seq(DimDef("t", IntCoords((0 until 24).toArray)),
            DimDef("lat", DoubleCoords(
              (0 until 5).map(i => -60.0 + 30.0 * i).toArray))),
          Seq(VarDef("a", Seq("t", "lat"), GDouble),
            VarDef("b", Seq("t", "lat"), GDouble))),
        Map("a" -> Fixtures.AffineLaw(200.0, Seq(1.0, 2.0)),
          "b" -> Fixtures.QuadLaw(1.0)))
      new XarrayContext(s)
        .scratchDataFrame("corr_grid", st, Map("t" -> 6), Seq("t", "lat"))
        .groupBy("lat")
        .agg(count(lit(1)).cast("double").as("n"),
          sum(col("a")).as("sa"), sum(col("b")).as("sb"),
          sum(col("a") * col("a")).as("saa"),
          sum(col("b") * col("b")).as("sbb"),
          sum(col("a") * col("b")).as("sab"))
        .select(col("lat"),
          ((col("n") * col("sab") - col("sa") * col("sb")) /
            (sqrt(col("n") * col("saa") - col("sa") * col("sa")) *
              sqrt(col("n") * col("sbb") - col("sb") * col("sb"))))
            .as("corr_ab"))
    }),

    // xarray detrend (polyfit + polyval + subtract): fit the
    // per-series OLS line along t, then remove it — the "detrend
    // before anomaly/spectral analysis" workflow. Plan shape: ONE
    // map-side-combinable moment-sum groupBy produces a lat-sized
    // coefficient table; a BROADCAST join applies it back — fitting
    // never re-shuffles the data. The variable is quadratic in t so
    // residuals are non-trivial; moment sums are exact integers and
    // the residual chain b - (intercept + slope*t) runs the identical
    // IEEE op sequence on both engines.
    "pivot_grid_detrend" -> ((s, _) => {
      import graft.grid._
      val st = SyntheticGridStore(
        GridSchema(
          Seq(DimDef("t", IntCoords((0 until 24).toArray)),
            DimDef("lat", DoubleCoords(
              (0 until 5).map(i => -60.0 + 30.0 * i).toArray))),
          Seq(VarDef("b", Seq("t", "lat"), GDouble))),
        Map("b" -> Fixtures.QuadLaw(1.0)))
      val g = new XarrayContext(s)
        .scratchDataFrame("detrend_grid", st, Map("t" -> 6), Seq("t", "lat"))
        .select(col("t").cast("double").as("x"), col("lat"), col("b"))
      val coef = g.groupBy("lat")
        .agg(count(lit(1)).cast("double").as("n"),
          sum(col("x")).as("sx"), sum(col("x") * col("x")).as("sxx"),
          sum(col("b")).as("sy"), sum(col("x") * col("b")).as("sxy"))
        .withColumn("den", col("n") * col("sxx") - col("sx") * col("sx"))
        .select(col("lat"),
          ((col("n") * col("sxy") - col("sx") * col("sy")) / col("den"))
            .as("slope"),
          ((col("sxx") * col("sy") - col("sx") * col("sxy")) / col("den"))
            .as("intercept"))
      g.join(broadcast(coef), Seq("lat"))
        .select(col("x").cast("long").as("t"), col("lat"),
          (col("b") - (col("intercept") + col("slope") * col("x")))
            .as("b_detrended"))
    }),

    // xarray `sel(lat=[...], method="nearest")`: nearest-coordinate
    // lookup resolved from the DIM COLUMN ALONE (a projection-pushed
    // coordinate scan — no variable data read), then a broadcast
    // equi-join back into the grid on the matched coordinates, where
    // runtime filtering prunes non-matching chunks. Mean over lon:
    // integer-valued dyadic sums, one division. The point-extraction
    // verb of every station-vs-model comparison.
    "pivot_grid_selnearest" -> ((s, _) => {
      import s.implicits._
      val g = grid(s)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("q").orderBy("dist", "lat")
      val nearest = Seq(52.3, 61.7, 74.9).toDF("q")
        .crossJoin(g.select("lat").distinct())
        .select(col("q"), col("lat"),
          abs(col("lat") - col("q")).as("dist"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).select("q", "lat")
      g.join(broadcast(nearest), "lat")
        .groupBy(col("q"), col("lat"), col("t").cast("long").as("t"))
        .agg(avg("air").as("air_mean"))
    }),

    // xarray `cumsum("t")` per cell: running sum over the time axis —
    // the same one-window-per-series shape as rolling; integer-valued
    // doubles keep every partial sum exact
    "pivot_grid_cumsum" -> ((s, _) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lat", "lon").orderBy("t")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      grid(s).select(col("t").cast("long").as("t"), col("lat"),
        col("lon"), sum("air").over(w).as("air_cum"))
    }),

    // xarray `rolling(t=3).mean()` on the grid source: per-cell
    // trailing window over the time axis — ONE hash-partition window
    // per (lat, lon) series, no self-joins; series count (cells) is
    // the parallelism, so the shape holds at any grid size. Integer-
    // valued doubles keep the mean exact under any summation order.
    "pivot_grid_rolling" -> ((s, _) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lat", "lon").orderBy("t").rowsBetween(-2, 0)
      grid(s).select(col("t").cast("long").as("t"), col("lat"),
        col("lon"), avg("air").over(w).as("air_roll3"))
    }),

    // xarray `diff("t")` on the grid source: per-cell discrete
    // derivative via LAG over the same per-series window (drops the
    // first step, like xarray)
    "pivot_grid_diff" -> ((s, _) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lat", "lon").orderBy("t")
      grid(s).select(col("t").cast("long").as("t"), col("lat"),
        col("lon"), (col("air") - lag("air", 1).over(w)).as("d_air"))
        .filter(col("d_air").isNotNull)
    }),

    // xarray `ffill("t")` per cell: forward-fill gaps along the time
    // axis — a t-VARYING null law ((t+i+j) % 7 == 0, unlike the
    // time-invariant `where` mask) punches holes, then
    // last(ignoreNulls) over the per-series running window carries the
    // latest observation forward. Leading nulls stay null, exactly as
    // xarray leaves leading NaNs. Same one-window-per-(lat,lon)-series
    // shape as cumsum/rolling: cells are the parallelism, no global
    // sort, holds at any grid size.
    "pivot_grid_ffill" -> ((s, _) => {
      val li = ((lit(75.0) - col("lat")) / lit(2.5)).cast("long")
      val lj = ((col("lon") - lit(200.0)) / lit(2.5)).cast("long")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lat", "lon").orderBy("t")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      grid(s)
        .select(col("t").cast("long").as("t"), col("lat"), col("lon"),
          when((col("t").cast("long") + li + lj) % 7 === 0,
            lit(null).cast("double")).otherwise(col("air")).as("gappy"))
        .select(col("t"), col("lat"), col("lon"),
          last("gappy", ignoreNulls = true).over(w).as("air_ffill"))
    }),

    // xarray `bfill(dim="t")`: the mirror of ffill — gaps take the
    // NEXT observation along time (first_value ignoring nulls over
    // the following frame). Same per-cell bounded window, same gap
    // law as ffill so the two verbs are directly comparable.
    "pivot_grid_bfill" -> ((s, _) => {
      val li = ((lit(75.0) - col("lat")) / lit(2.5)).cast("long")
      val lj = ((col("lon") - lit(200.0)) / lit(2.5)).cast("long")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lat", "lon").orderBy("t")
        .rowsBetween(org.apache.spark.sql.expressions.Window.currentRow,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      grid(s)
        .select(col("t").cast("long").as("t"), col("lat"), col("lon"),
          when((col("t").cast("long") + li + lj) % 7 === 0,
            lit(null).cast("double")).otherwise(col("air")).as("gappy"))
        .select(col("t"), col("lat"), col("lon"),
          first("gappy", ignoreNulls = true).over(w).as("air_bfill"))
    }),

    // xarray `quantile([0.25, 0.5], dim="t")` per cell: EXACT
    // linear-interpolation percentiles (Spark `percentile` == DuckDB
    // `quantile_cont`, both xarray's default "linear" method). The
    // fixture's integer values and dyadic interpolation weights (0.75
    // at q=.25 over 24 points, 0.5 at the median) keep both engines
    // bit-identical. Scale note: exact percentile buffers one series
    // per group — bounded by the time-axis length, not the grid; for
    // an unbounded axis the approx_percentile sketch (see
    // approx_stats) is the 100 TB form.
    "pivot_grid_quantile" -> ((s, _) =>
      grid(s).groupBy("lat", "lon").agg(
        expr("percentile(air, 0.25D)").as("q25"),
        expr("percentile(air, 0.5D)").as("q50"))),

    // xarray `differentiate("t")`: d(air)/dt via SECOND-ORDER central
    // differences on the interior, one-sided at the edges — exactly
    // xarray's np.gradient semantics on a unit-spaced axis. One lead +
    // one lag window per (lat, lon) series; halves of integer-valued
    // differences are exact dyadics on both engines.
    "pivot_grid_differentiate" -> ((s, _) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lat", "lon").orderBy("t")
      grid(s)
        .select(col("t").cast("long").as("t"), col("lat"), col("lon"),
          col("air"), lag("air", 1).over(w).as("prv"),
          lead("air", 1).over(w).as("nxt"))
        .select(col("t"), col("lat"), col("lon"),
          when(col("prv").isNull, col("nxt") - col("air"))
            .when(col("nxt").isNull, col("air") - col("prv"))
            .otherwise((col("nxt") - col("prv")) / 2.0).as("dair_dt"))
    }),

    // xarray `groupby_bins` on a DATA VARIABLE (value-space histogram,
    // the first exploration query of any dataset): width_bucket-style
    // integer bins over `air` — one map-side-combinable agg shuffle,
    // bin count bounded by the value range regardless of grid size.
    // floor(air / 25) is exact on the integer-valued fixture.
    "pivot_grid_valbins" -> ((s, _) =>
      grid(s)
        .groupBy(floor(col("air") / 25.0).cast("long").as("air_bin"))
        .agg(count(lit(1)).as("cnt"), avg("air").as("bin_mean"))),

    // xarray `stack(point=("lat","lon"))`: flatten two dims into one
    // multi-index. The index table is DISTINCT coordinate pairs ranked
    // in coordinate order — metadata-sized (nlat*nlon rows regardless
    // of grid length), so the single-task ordering window is bounded
    // and the fact-side assignment is a broadcast join, never a global
    // sort of the data.
    "pivot_grid_stack" -> ((s, _) => {
      val g = grid(s)
      val w = org.apache.spark.sql.expressions.Window.orderBy("lat", "lon")
      val pts = g.select("lat", "lon").distinct()
        .select(col("lat"), col("lon"),
          (row_number().over(w) - 1).cast("long").as("point"))
      g.join(broadcast(pts), Seq("lat", "lon"))
        .select(col("t").cast("long").as("t"), col("point"),
          col("lat"), col("lon"), col("air"))
    }),

    // xarray `unstack("point")`: the inverse of `stack` — the stacked
    // frame (which dropped lat/lon, keeping only the multi-index
    // ordinal) recovers its source dims by joining the SAME
    // metadata-sized index table back, pinning stack∘unstack = id
    // through the engine. Both joins broadcast the point table; the
    // data is never sorted or shuffled.
    "pivot_grid_unstack" -> ((s, _) => {
      val g = grid(s)
      val w = org.apache.spark.sql.expressions.Window.orderBy("lat", "lon")
      val pts = g.select("lat", "lon").distinct()
        .select(col("lat"), col("lon"),
          (row_number().over(w) - 1).cast("long").as("point"))
      val stacked = g.join(broadcast(pts), Seq("lat", "lon"))
        .select(col("t"), col("point"), col("air"))
      stacked.join(broadcast(pts), Seq("point"))
        .select(col("t").cast("long").as("t"), col("lat"), col("lon"),
          col("air"))
    }),

    // xarray `shift(t=1)`: lag the variable along time per series,
    // NULL (xarray NaN) at the leading edge — the lagged-feature /
    // autocorrelation verb. One bounded per-series window, same
    // shuffle key as every other time-axis verb.
    "pivot_grid_shift" -> ((s, _) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lat", "lon").orderBy("t")
      grid(s).select(col("t").cast("long").as("t"), col("lat"), col("lon"),
        lag("air", 1).over(w).as("air_shift"))
    }),

    // xarray `align(a, b, join="outer")`: two stores with different
    // time extents (t 0..15 and t 8..23) align onto the UNION of their
    // coordinates, each side NULL-filled outside its own extent — the
    // multi-archive reconciliation verb. Plan shape: one full-outer
    // join keyed on the coords; at scale both sides arrive
    // chunk-partitioned on the same dims, so with co-chunked stores
    // the exchange is a co-partitioned merge, and zone maps prune the
    // non-overlap region from the PROBE of the opposite store.
    "pivot_grid_align" -> ((s, _) => {
      val ctx = new XarrayContext(s)
      val a = ctx.dataFrame("align_a", Fixtures.linearGridSlice(0, 16),
          Map("t" -> 6), Seq("t", "lat", "lon"))
        .select(col("t"), col("lat"), col("lon"), col("air").as("air_a"))
      val b = ctx.dataFrame("align_b", Fixtures.linearGridSlice(8, 24),
          Map("t" -> 6), Seq("t", "lat", "lon"))
        .select(col("t"), col("lat"), col("lon"), col("air").as("air_b"))
      a.join(b, Seq("t", "lat", "lon"), "full_outer")
        .select(col("t").cast("long").as("t"), col("lat"), col("lon"),
          col("air_a"), col("air_b"))
    }),

    // xarray `reindex(t=range(30))`: conform the grid to a GIVEN
    // target index — existing coordinates keep their values, indexer
    // entries beyond the extent (t 24..29) materialize as NULL
    // (xarray's NaN fill) — the calendar-conforming verb before
    // merging archives. The spine is metadata-sized (target × distinct
    // spatial coords, broadcast); the grid left-joins it without ever
    // sorting.
    "pivot_grid_reindex" -> ((s, _) => {
      import s.implicits._
      val g = grid(s)
      val spine = (0L until 30L).toDF("t")
        .crossJoin(g.select("lat", "lon").distinct())
      spine.join(g.select(col("t").cast("long").as("t"), col("lat"),
          col("lon"), col("air")),
          Seq("t", "lat", "lon"), "left_outer")
        .select(col("t"), col("lat"), col("lon"), col("air"))
    }),

    // xarray `roll(lon=3, roll_coords=False)`: CIRCULAR shift along
    // the wrap-around axis (longitude) — each cell takes the value
    // from (j - 3) mod n. Exact dyadic index recovery on the fixture
    // coords, then ONE equi-join on the computed source index —
    // co-partitioned at scale since both sides key on the same dims;
    // no window, no sort.
    "pivot_grid_roll" -> ((s, _) => {
      val g = grid(s)
      val j = ((col("lon") - lit(200.0)) / 2.5).cast("long")
      val src = g.select(col("t"), col("lat"), j.as("j_src"),
        col("air").as("air_rolled"))
      g.select(col("t"), col("lat"), col("lon"),
          pmod(j - 3, lit(10L)).as("j_src"))
        .join(src, Seq("t", "lat", "j_src"))
        .select(col("t").cast("long").as("t"), col("lat"), col("lon"),
          col("air_rolled"))
    }),

    // xarray `rank("t")`: average-rank (bottleneck semantics — ties get
    // the mean of their positional ranks) of a derived value along the
    // time axis, per (lat, lon) series. rank() + (ties-1)/2 reproduces
    // average ranks from two bounded windows; halves of integers are
    // exact dyadics on both engines.
    "pivot_grid_rank" -> ((s, _) => {
      val W = org.apache.spark.sql.expressions.Window
      val lvl = floor(col("air") / 25.0)
      grid(s)
        .select(col("t").cast("long").as("t"), col("lat"), col("lon"),
          lvl.cast("long").as("air_level"),
          (rank().over(W.partitionBy("lat", "lon").orderBy(lvl)) +
            (count(lit(1)).over(W.partitionBy(col("lat"), col("lon"), lvl))
              - 1) / 2.0).as("rank_t"))
    }),

    // xarray `interp(lat=..., lon=...)` / `interp_like` — 2-D BILINEAR
    // regridding, the resolution-change verb of every climate
    // pipeline. Shape: each target axis expands to a (target, source
    // index, weight) map with ≤2 rows per target — BROADCAST (axis-
    // sized, never the grid) — the grid joins both maps (≤4 rows per
    // source cell) and one partial-agg shuffle keyed by target cell
    // sums the weighted neighbors. Exactness: dyadic fractional
    // positions (denominator ≤16) x integer-valued air keep every
    // product and the ≤4-term sum exact in doubles on both engines.
    "pivot_grid_regrid" -> ((s, _) => {
      import s.implicits._
      def axisMap(ts: Seq[Double]): Seq[(Double, Long, Double)] =
        ts.flatMap { p =>
          val i0 = p.floor.toLong
          val f = p - p.floor
          if (f == 0.0) Seq((p, i0, 1.0))
          else Seq((p, i0, 1.0 - f), (p, i0 + 1, f))
        }
      val latMap = axisMap((0 until 8).map(k => 0.25 + 1.25 * k))
        .toDF("lat_t", "li", "wlat")
      val lonMap = axisMap((0 until 7).map(m => 0.5 + 1.25 * m))
        .toDF("lon_t", "lj", "wlon")
      grid(s)
        .select(col("t").cast("long").as("t"),
          ((lit(75.0) - col("lat")) / 2.5).cast("long").as("li"),
          ((col("lon") - lit(200.0)) / 2.5).cast("long").as("lj"),
          col("air"))
        .join(broadcast(latMap), "li")
        .join(broadcast(lonMap), "lj")
        .groupBy(col("t"), col("lat_t"), col("lon_t"))
        .agg(sum(col("air") * col("wlat") * col("wlon")).as("air_interp"))
        .select(col("t"),
          (lit(75.0) - lit(2.5) * col("lat_t")).as("lat"),
          (lit(200.0) + lit(2.5) * col("lon_t")).as("lon"),
          col("air_interp"))
    }),

    // xarray `integrate("t")` per cell: trapezoidal rule over the
    // time axis — one lead window per series builds consecutive
    // pairs, then one partial-agg shuffle sums (a+b)/2 * dt (dt=1).
    // Every trapezoid is a multiple of 0.5 and the total stays far
    // below 2^52, so the sum is exact under ANY order — order-free
    // for the hash gate and for map-side combining alike.
    "pivot_grid_integrate" -> ((s, _) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lat", "lon").orderBy("t")
      grid(s)
        .select(col("lat"), col("lon"), col("air"),
          lead("air", 1).over(w).as("nxt"))
        .filter(col("nxt").isNotNull)
        .groupBy("lat", "lon")
        .agg(sum((col("air") + col("nxt")) / 2.0).as("air_integral"))
    }),

    // the LAZY reverse pivot through the hash gate (SURVEY §2A A12):
    // an indexer slice (t 6..11, lat rows {0,3,5}) derives ONE pruned
    // filtered scan, scatters into a dense sub-grid, and the sub-grid
    // re-registers as a queryable store — slice-of-a-result without
    // ever materializing the full grid (chunk-open counts pinned in
    // LazyGridViewSpec).
    "pivot_grid_lazyslice" -> ((s, _) => {
      import graft.grid.LazyGridView
      val view = LazyGridView.fromStore(grid(s), Fixtures.linearGrid,
        Seq("t", "lat", "lon"), Seq("air"))
      val sub = view.select(Map(
        "t" -> LazyGridView.Slice(6, 12),
        "lat" -> LazyGridView.Points(Seq(0, 3, 5))))
      val store = graft.grid.ArrayGridStore.fromResult(sub)
      new XarrayContext(s)
        .dataFrame("lazy_slice", store, Map("t" -> 6),
          Seq("t", "lat", "lon"))
        .select(col("t").cast("long").as("t"), col("lat"), col("lon"),
          col("air"))
    }),

    // two co-dimensional variables through one scan: both var files
    // read in the same partition pass, inter-variable arithmetic in
    // the projection (the NDVI-between-bands shape on the grid source)
    "pivot_grid_twovar" -> ((s, _) => {
      new XarrayContext(s).fromDataset("twovar_grid", Fixtures.twoVarGrid,
        Map("time" -> 5))
      s.sql("""SELECT time, lat, temperature, precipitation,
              |temperature - precipitation AS net
              |FROM twovar_grid""".stripMargin)
    }),

    // the from_map legacy API (SURVEY §2A A17) through the hash gate:
    // driver-side items fan out to executors, each generating its own
    // t-slab of rows — the reference's dask-style from_map ingestion
    "pivot_grid_frommap" -> ((s, _) => {
      import s.implicits._
      new XarrayContext(s)
        .fromMap(0 until 24, (t: Int) =>
          for (i <- 0 until 12; j <- 0 until 10)
            yield (t, 75.0 - 2.5 * i, 200.0 + 2.5 * j,
              200.0 + t + 2.0 * i + 3.0 * j))
        .toDF("t", "lat", "lon", "air")
        .select(col("t").cast("long").as("t"), col("lat"), col("lon"),
          col("air"))
    }),

    // append-only ingest: the first 9 hours land as one Zarr v3 write,
    // the rest arrive later as two ZarrV3.appendFromRows calls at
    // UNALIGNED boundaries (9 and 19 are not multiples of the t=6
    // chunk): each append read-modify-writes the partial edge chunk —
    // the xarray to_zarr(append_dim) ingest shape — and lays new chunks
    // past it, with one small metadata rewrite. The query straddles
    // both boundaries (t 8..20), proving scans, pruning and the
    // RECOMPUTED edge-chunk stats see one seamless grid. The reference
    // has no incremental ingest — a 100 TB archive needs one.
    "pivot_grid_append" -> ((s, _) => {
      // unique per invocation (QueryTmp: race-free under concurrent
      // evaluation, tree deleted at exit instead of accumulating)
      val root = QueryTmp.dir("graft_append_grid") + "/store"
      val ctx = new XarrayContext(s)
      def slab(t0: Int, t1: Int) = {
        val g = Fixtures.linearGridSlice(t0, t1)
        (ctx.scratchDataFrame(s"append_slab@$root/$t0", g, Map("t" -> 6),
          Seq("t", "lat", "lon")), g.schema)
      }
      graft.grid.ZarrV3.write(Fixtures.linearGridSlice(0, 9), root,
        Map("t" -> 6), "zstd")
      Seq((9, 19), (19, 24)).foreach { case (t0, t1) =>
        val (df, schema) = slab(t0, t1)
        graft.grid.ZarrV3.appendFromRows(df, schema, root, "t")
      }
      val appended = graft.grid.ZarrV3.open(root)
      ctx
        // registry key carries the unique store root (concurrent
        // evaluations must not cross-resolve) and is dropped after load
        .scratchDataFrame(s"append_grid@$root", appended, appended.chunkMap,
          Seq("t", "lat", "lon"))
        .filter(col("t").between(8, 20))
        .select(col("t").cast("long").as("t"), col("lat"), col("lon"),
          col("air"))
    }),

    // grid x grid join on shared dimension coordinates: a 2-D land
    // mask joins the 3-D time cube on (lat, lon) and only land cells
    // aggregate — the xarray "apply a static mask dataset" pattern as
    // SQL. The mask side is a second registered grid source; exact
    // post-pruning stats mark it broadcastable, so the cube is never
    // shuffled. Two BIG grids sharing a chunk grid instead
    // co-partition on the chunk ids (the same bin-equi-key trick as
    // RangeJoinOps) — documented in DESIGN_NOTES.
    "pivot_grid_join" -> ((s, _) => {
      val g = grid(s)
      val m = new XarrayContext(s).dataFrame(
        "mask_grid", Fixtures.maskGrid, Map("lat" -> 6), Seq("lat", "lon"))
      g.join(m, Seq("lat", "lon"))
        .filter(col("mask") === 1.0)
        .groupBy(col("t").cast("long").as("t"))
        .agg(count(lit(1)).as("cnt"), avg("air").as("avg_air"))
    }),

    // grouped metadata aggregate: GROUP BY a dimension + COUNT/MIN/MAX
    // of dims answers entirely from coordinate metadata (density makes
    // every group the same cross product) — zero chunk reads, asserted
    // in GridSourceSpec ("GROUP BY dim: grouped aggregates answer from
    // metadata"). Beyond the reference, which only metadata-answers the
    // unfiltered global count.
    "pivot_grid_groupcount" -> ((s, _) =>
      grid(s)
        .filter(col("t") >= 6)
        .groupBy("lat")
        .agg(count(lit(1)).as("cnt"),
          min("t").as("t_min"), max("t").as("t_max"))
        .select(col("lat"), col("cnt"),
          col("t_min").cast("long").as("t_min"),
          col("t_max").cast("long").as("t_max"))),

    // cross-dim OR: deliberately NOT exact-pushed (it stays a residual
    // filter — see SeparableDimFilters scaladoc) so the columnar batch
    // + codegen re-filter path and MetadataCountRule's partial
    // containment both keep working; zone maps still prune blocks both
    // arms provably exclude. Counts: chunk 3 (t 18-23) is included by
    // the time arm and metadata-counted; chunks 0-2 are boundary
    // (lat = 75 row survives) and scan (asserted in GridQueryE2ESpec).
    "pivot_grid_or" -> ((s, _) =>
      grid(s)
        .filter(col("t") >= 18 || col("lat") >= 74.0)
        .select(col("t").cast("long").as("t"), col("lat"), col("lon"),
          col("air"))),

    // data-variable zone maps end-to-end: the Zarr v3 writer records
    // per-chunk (min, max) of every variable in the stats sidecar, so
    // a predicate on the VALUE column prunes chunk files like Parquet
    // row-group stats (beyond the reference, whose bounds cover dims
    // only). air per t-chunk k spans [200+6k, 254+6k]: air >= 255
    // provably excludes chunk 0 (asserted in GridQueryE2ESpec).
    // metadata SUM surface (beyond the reference, which keeps no value
    // stats): the sidecar also records per-chunk value sums; under
    // GraftExtensions, MetadataSumRule answers this unaligned t-range
    // SUM from metadata plus the two boundary chunks
    // (zero-/boundary-read behavior plan-pinned in MetadataSumRuleSpec
    // — Verify's plain session computes the identical result through
    // the scanned plan, which is what the oracle gates)
    "pivot_grid_metasum" -> ((s, _) => {
      val store = stagedLinearV3("graft_metasum_grid")
      new XarrayContext(s)
        .scratchDataFrame(s"metasum_grid@${store.root}", store,
          store.chunkMap, Seq("t", "lat", "lon"))
        .filter(col("t").between(3, 20))
        .agg(sum(col("air")).as("sum_air"))
    }),

    // the AVG face of the metadata-sum machinery: metadata (sum, rows)
    // partials for interior chunks + boundary (sum, count) partials,
    // combined by the evaluator's own single final division
    // (MetadataSumRuleSpec pins the 2-of-4-chunks read behavior)
    "pivot_grid_metamean" -> ((s, _) => {
      val store = stagedLinearV3("graft_metamean_grid")
      new XarrayContext(s)
        .scratchDataFrame(s"metamean_grid@${store.root}", store,
          store.chunkMap, Seq("t", "lat", "lon"))
        .filter(col("t").between(3, 20))
        .agg(avg(col("air")).as("mean_air"))
    }),

    "pivot_grid_varstats" -> ((s, _) => {
      val store = stagedLinearV3("graft_varstats_grid")
      new XarrayContext(s)
        .scratchDataFrame(s"varstats_linear_grid@${store.root}", store,
          store.chunkMap, Seq("t", "lat", "lon"))
        .filter(col("air") >= 255.0)
        .select(col("t").cast("long").as("t"), col("lat"), col("lon"),
          col("air"))
    }),

    // the same DATA-VARIABLE zone maps on the PRIMARY format: a ZARR
    // tree written by this engine carries per-chunk value stats in the
    // .graft-stats.json sidecar, and the var predicate prunes chunk
    // FILES (open counts pinned in ZarrVarStatsSpec)
    "pivot_grid_zarr_varstats" -> ((s, _) => {
      val root = QueryTmp.staged("graft_zarr_varstats")(base =>
        graft.grid.ZarrGridStore.write(Fixtures.linearGrid,
          s"$base/store", Map("t" -> 6), "zlib")) + "/store"
      val store = graft.grid.ZarrGridStore.open(root)
      new XarrayContext(s)
        .scratchDataFrame(s"zarr_varstats@$root", store, store.chunkMap,
          Seq("t", "lat", "lon"))
        .filter(col("air") >= 255.0)
        .select(col("t").cast("long").as("t"), col("lat"), col("lon"),
          col("air"))
    }),

    // STRING data-variable VALUE stats end-to-end: grade is constant
    // per time chunk, so the written zarr tree's sidecar carries exact
    // (gk, gk) string bounds and the range + prefix predicate prunes
    // half the chunks in UTF-8 binary order (open counts pinned in
    // ZarrVarStatsSpec) — the string analogue of pivot_grid_zarr_varstats
    "pivot_grid_zarr_strstats" -> ((s, _) => {
      val root = QueryTmp.staged("graft_zarr_strstats")(base =>
        graft.grid.ZarrGridStore.write(Fixtures.gradeGrid,
          s"$base/store", Map("time" -> 25), "zlib")) + "/store"
      val store = graft.grid.ZarrGridStore.open(root)
      new XarrayContext(s)
        .scratchDataFrame(s"zarr_strstats@$root", store, store.chunkMap,
          Seq("time", "lat"))
        .filter(col("grade") >= "g2" && col("grade").startsWith("g"))
        .select(col("time"), col("lat"), col("grade"))
    }),

    // timedelta (DayTimeInterval) coordinate end-to-end: a forecast grid
    // keyed by init time x prediction lead; the interval-literal filter
    // zone-map-prunes lead chunks and valid time = time + lead uses
    // Spark's native timestamp + interval arithmetic. Reference
    // prediction_timedelta shape (benchmarks/geospatial/05_forecast_skill
    // .py:158-171).
    "pivot_grid_timedelta" -> ((s, _) => {
      new XarrayContext(s).fromDataset("fc_grid", Fixtures.forecastGrid,
        Map("lead" -> 2))
      s.sql("""SELECT time + lead AS valid_time, fc FROM fc_grid
              |WHERE lead >= INTERVAL '12' HOUR""".stripMargin)
    }),

    // non-Gregorian calendar end-to-end (SURVEY §2A A14/A15): a 360_day
    // grid keeps int64 CF offsets, registration auto-binds `cftime`, and
    // the date-literal predicate folds to a plain long (180 here) that
    // zone-map-prunes 2 of 4 time chunks. Reference cftime.py:217-248 +
    // tests/test_sql.py:252-325.
    "pivot_grid_cftime" -> ((s, _) => {
      new XarrayContext(s).fromDataset("cal360", Fixtures.cal360Grid,
        Map("time" -> 90))
      s.sql("""SELECT time, lat, temp FROM cal360
              |WHERE time >= cftime('2000-07-01')""".stripMargin)
    }),

    // xarray `groupby('time.month')` — THE climatology verb — on a
    // 360_day calendar, where month extraction is exact integer
    // arithmetic on the CF offsets ((t % 360) DIV 30). One partial-agg
    // shuffle keyed (month, lat): 12 x n_lat groups regardless of how
    // many years the store holds, so the shape is scale-free. Means
    // stay exact: dyadic law summed then one division by the count.
    "pivot_grid_climatology" -> ((s, _) => {
      new XarrayContext(s).fromDataset("cal360clim", Fixtures.cal360Grid,
        Map("time" -> 90))
      s.sql("""SELECT (time % 360) DIV 30 AS month, lat,
              |  avg(temp) AS mean_temp, count(*) AS n
              |FROM cal360clim GROUP BY (time % 360) DIV 30, lat""".stripMargin)
    }),

    // julian calendar end-to-end: the discriminating leap case — 1900
    // is a julian leap year but not a Gregorian one, so the folded
    // cftime literal is 31+29 = 60 (not 59); zone maps prune 2 of 4
    // time chunks. Reference cftime.py:33-47, tests/test_sql.py:252-325.
    "pivot_grid_julian" -> ((s, _) => {
      new XarrayContext(s).fromDataset("caljul", Fixtures.julianGrid,
        Map("time" -> 30))
      s.sql("""SELECT time, lat, temp FROM caljul
              |WHERE time >= cftime('1900-03-01')""".stripMargin)
    }),

    // noleap calendar through the GregorianLike tier: offsets decode in
    // the calendar's own 365-day reckoning onto real-timeline
    // timestamps (CfCalendar.offsetToMicros). The filter crosses the
    // Feb-28/Mar-1 boundary of the REAL leap year 2000 — offset 59 is
    // Mar 1 in noleap where a naive epoch+86400*t bridge lands on
    // Feb 29 and shifts the boundary. Chunked by 30 offsets, the
    // timestamp zone maps prune chunk 0 (Jan 1 - Jan 30).
    "pivot_grid_noleap" -> ((s, _) => {
      new XarrayContext(s).fromDataset("calnoleap", Fixtures.noleapGrid,
        Map("time" -> 30))
      s.sql("""SELECT time, lat, temp FROM calnoleap
              |WHERE time >= timestamp'2000-03-01 00:00:00'""".stripMargin)
    }),

    // xarray `resample(time='M').mean()` — CALENDAR-bucketed
    // aggregation over a real timestamp axis (distinct from the
    // positional `coarsen` and the cyclic `climatology`): date_trunc
    // buckets the decoded noleap timestamps into civil months, one
    // partial-agg shuffle keyed (month, lat) — group count is bounded
    // by months x lats regardless of axis length, the scale-free
    // climatology shape. Means stay exact: the dyadic value law sums
    // exactly in doubles, then one division by the count.
    "pivot_grid_resample" -> ((s, _) => {
      new XarrayContext(s).fromDataset("calnoleap_rs", Fixtures.noleapGrid,
        Map("time" -> 30))
      s.sql("""SELECT date_trunc('MONTH', time) AS month, lat,
              |  avg(temp) AS mean_temp, count(*) AS n
              |FROM calnoleap_rs GROUP BY 1, 2""".stripMargin)
    }),

    // nonzero-UTC-offset CF units end-to-end (round-12 fold): the
    // reference instant is local +01:00, so every coordinate decodes
    // one hour EARLIER than a naive offset-ignoring read — the Jan-2
    // filter boundary falls at offset 25, not 24, and the timestamp
    // zone maps prune chunk 0 (offsets 0-23 all end before Jan 2).
    // cftime's tz-aware->UTC semantics gated against DuckDB's own
    // timestamp arithmetic.
    "pivot_grid_cfoffset" -> ((s, _) => {
      new XarrayContext(s).fromDataset("caloffset", Fixtures.cfOffsetGrid,
        Map("time" -> 24))
      s.sql("""SELECT time, lat, temp FROM caloffset
              |WHERE time >= timestamp'2000-01-02 00:00:00'""".stripMargin)
    }),

    // all_leap calendar through the GregorianLike tier: the offsets
    // span all_leap year 2001 minus its timeline-unrepresentable
    // Feb 29 (Fixtures.allLeapGrid), so the decode lands on 119
    // consecutive real days — while a naive epoch+86400*t bridge
    // shifts every offset past the phantom Feb 29 one day late and
    // mispairs time with the index-keyed value law. Filter boundary
    // at Mar 1 2001; chunked by 30 coords, chunk 0 prunes.
    "pivot_grid_allleap" -> ((s, _) => {
      new XarrayContext(s).fromDataset("calallleap", Fixtures.allLeapGrid,
        Map("time" -> 30))
      s.sql("""SELECT time, lat, temp FROM calallleap
              |WHERE time >= timestamp'2001-03-01 00:00:00'""".stripMargin)
    }),

    // string-coordinate dimension end-to-end (station table shape,
    // reference tests/test_sql.py:137-152): string dims are queryable
    // AND prune — the IN list evaluates exactly against the coordinate
    // values (partition-open counts pinned in GridSourceSpec), beyond
    // the reference, which skips string bounds (df.py:447-450).
    "pivot_grid_station" -> ((s, _) => {
      new XarrayContext(s).fromDataset("stations", Fixtures.stationGrid,
        Map("station" -> 4))
      s.sql("""SELECT station, time, reading FROM stations
              |WHERE station IN ('st_1','st_4')
              |AND time >= timestamp'2020-01-04 00:00:00'""".stripMargin)
    }),

    // string RANGE + prefix predicates on the station dim, exact-pushed
    // in UTF-8 binary order (Utf8Order == Spark's UTF8_BINARY; DuckDB
    // also collates binary, and the fixture is ASCII anyway): the
    // station >= / LIKE conjunction prunes the first station chunk and
    // enumerates only surviving cells — the round-12 string zone-map
    // surface through the hash gate.
    "pivot_grid_station_range" -> ((s, _) => {
      new XarrayContext(s).fromDataset("stations_rng", Fixtures.stationGrid,
        Map("station" -> 4))
      s.sql("""SELECT station, time, reading FROM stations_rng
              |WHERE station >= 'st_4' AND station < 'st_7'
              |AND station LIKE 'st%'
              |AND time < timestamp'2020-01-06 00:00:00'""".stripMargin)
    }),

    // the production on-disk path end-to-end: distributed reverse pivot
    // (GridWriter scatters cells from executors through the Hadoop FS
    // API) -> zstd-compressed Zarr v3 chunk files -> metadata re-open
    // -> DSv2 scan with zone-map pruning (t >= 12 keeps 2 of 4 chunk
    // partitions) + zstd decode. Mirrors the reference's Zarr write +
    // read round trip (reference xarray_sql/reader.py:192-337).
    "pivot_grid_disk" -> ((s, _) => {
      val root = QueryTmp.staged("graft_disk_grid")(base =>
        graft.grid.ZarrV3.writeFromRows(grid(s), Fixtures.linearGrid.schema,
          Map("t" -> 6), s"$base/store", "zstd")) + "/store"
      val store = graft.grid.ZarrV3.open(root)
      new XarrayContext(s)
        .scratchDataFrame(s"disk_linear_grid@$root", store, store.chunkMap,
          Seq("t", "lat", "lon"))
        .filter(col("t") >= 12)
        .select(col("t").cast("long").as("t"), col("lat"), col("lon"),
          col("air"))
    }),

    // station-style dataset as a REAL Zarr tree: the string coordinate
    // round-trips through numpy's fixed-width "<U<n>" UTF-32 layout
    // (write + parse), the timestamp axis through the CF bridge, and
    // the residual string IN filter evaluates on the decoded coords —
    // the same query shape as pivot_grid_station on the in-memory store
    "pivot_grid_station_zarr" -> ((s, _) => {
      val root = QueryTmp.staged("graft_zarr_station")(base =>
        graft.grid.ZarrGridStore.write(Fixtures.stationGrid,
          s"$base/store", Map("station" -> 4), "zlib")) + "/store"
      val store = graft.grid.ZarrGridStore.open(root)
      new XarrayContext(s).fromDataset("stations_zarr", store,
        Map("station" -> 4))
      s.sql("""SELECT station, time, reading FROM stations_zarr
              |WHERE station IN ('st_1','st_4')
              |AND time >= timestamp'2020-01-04 00:00:00'""".stripMargin)
    }),

    // SQL result -> cloud Zarr with NO driver materialization: the
    // pivoted rows scatter through GridWriter's one-shuffle reverse
    // pivot directly into padded compressed v2 chunk files written by
    // executors, then the tree re-opens (consolidated) and scans back
    // pruned — the full round trip a 100 TB pipeline needs to WRITE
    // the reference's format at scale
    "pivot_grid_zarr_fromrows" -> ((s, _) => {
      val root = QueryTmp.dir("graft_zarr_fromrows") + "/store"
      val store = graft.grid.ZarrGridStore.writeFromRows(grid(s),
        Fixtures.linearGrid.schema, Map("t" -> 6, "lat" -> 5), root,
        "zstd:3")
      new XarrayContext(s)
        .scratchDataFrame(s"zarr_fromrows@$root", store, store.chunkMap,
          Seq("t", "lat", "lon"))
        .filter(col("t") >= 12)
        .select(col("t").cast("long").as("t"), col("lat"), col("lon"),
          col("air"))
    }),

    // the reference's PRIMARY data format end-to-end: the fixture grid
    // is materialized as a REAL Zarr v2 tree (.zgroup/.zarray/.zattrs
    // JSON metadata, zlib-compressed C-order chunk files padded at the
    // ragged lat edge, xarray _ARRAY_DIMENSIONS convention), re-opened
    // by ZarrGridStore parsing that layout, and served through the same
    // DSv2 scan — zone maps prune 2 of 4 t-chunk FILES (open counts
    // pinned in ZarrGridStoreSpec). The reference reads this format
    // through the Zarr/fsspec abstraction (xarray_sql/reader.py:192-337,
    // README.md:96-105); here the tree is parsed natively on the JVM.
    "pivot_grid_zarr" -> ((s, _) => {
      val root = QueryTmp.staged("graft_zarr_grid")(base =>
        graft.grid.ZarrGridStore.write(Fixtures.linearGrid,
          s"$base/store", Map("t" -> 6, "lat" -> 5), "zlib")) + "/store"
      val store = graft.grid.ZarrGridStore.open(root)
      new XarrayContext(s)
        .scratchDataFrame(s"zarr_grid@$root", store, store.chunkMap,
          Seq("t", "lat", "lon"))
        .filter(col("t") >= 12)
        .select(col("t").cast("long").as("t"), col("lat"), col("lon"),
          col("air"))
    }),
    // same grid as a Zarr V3 tree (zarr.json metadata, c/-prefixed
    // chunk keys, bytes+zstd codec pipeline, inline consolidated
    // metadata) — the layout the reference README's primary example
    // opens (README.md:76-77); ZarrGridStore.open auto-detects the
    // version
    "pivot_grid_zarr_v3" -> ((s, _) => {
      val root = QueryTmp.staged("graft_zarr_v3_grid")(base =>
        graft.grid.ZarrV3.write(Fixtures.linearGrid, s"$base/store",
          Map("t" -> 6, "lat" -> 5), "zstd:3")) + "/store"
      val store = graft.grid.ZarrGridStore.open(root)
      new XarrayContext(s)
        .scratchDataFrame(s"zarr_v3_grid@$root", store, store.chunkMap,
          Seq("t", "lat", "lon"))
        .filter(col("t") >= 12)
        .select(col("t").cast("long").as("t"), col("lat"), col("lon"),
          col("air"))
    }),
    // the plain-Spark read surface: spark.read.format("zarr") with NO
    // XarrayContext — short-name ServiceLoader registration, store
    // opened by the provider, same pruned DSv2 scan underneath
    "pivot_grid_zarr_format" -> ((s, _) => {
      val root = QueryTmp.staged("graft_zarr_fmt_grid")(base =>
        graft.grid.ZarrGridStore.write(Fixtures.linearGrid,
          s"$base/store", Map("t" -> 6, "lat" -> 5), "zstd:3")) + "/store"
      graft.sources.ZarrTableProvider.invalidate(root)
      s.read.format("zarr").load(root)
        .filter(col("t") >= 12)
        .select(col("t").cast("long").as("t"), col("lat"), col("lon"),
          col("air"))
    }),
    // packed-archive decode: a hand-rolled v2 tree (NOT our writer —
    // foreign layout) storing int16 with CF scale_factor/add_offset/
    // _FillValue, the convention most public climate archives use; the
    // reference reads it via xarray decode_cf. The scan surfaces
    // doubles with fills masked; NaN -> NULL for oracle parity with
    // the existing masked-grid queries
    "pivot_grid_packed" -> ((s, _) => {
      val root = java.nio.file.Paths.get(
        QueryTmp.dir("graft_zarr_packed"), "store")
      def put(rel: String, text: String): Unit = {
        val p = root.resolve(rel)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.write(p, text.getBytes("UTF-8"))
      }
      put(".zgroup", """{"zarr_format":2}""")
      put("t/.zarray",
        """{"zarr_format":2,"shape":[24],"chunks":[24],"dtype":"<i8",
          |"compressor":null,"fill_value":null,"order":"C",
          |"filters":null}""".stripMargin)
      put("t/.zattrs", """{"_ARRAY_DIMENSIONS":["t"]}""")
      locally {
        val bb = java.nio.ByteBuffer.allocate(24 * 8)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        (0 until 24).foreach(t => bb.putLong(t.toLong))
        java.nio.file.Files.write(root.resolve("t/0"), bb.array())
      }
      put("v/.zarray",
        """{"zarr_format":2,"shape":[24],"chunks":[6],"dtype":"<i2",
          |"compressor":null,"fill_value":-999,"order":"C",
          |"filters":null}""".stripMargin)
      put("v/.zattrs",
        """{"_ARRAY_DIMENSIONS":["t"],"scale_factor":0.25,
          |"add_offset":10.0,"_FillValue":-999}""".stripMargin)
      // chunks 0-2 stored (4t+1, with t=5 as the fill sentinel);
      // chunk 3 (t in [18,24)) deliberately ABSENT -> all-fill
      (0 until 3).foreach { c =>
        val bb = java.nio.ByteBuffer.allocate(6 * 2)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        (c * 6 until c * 6 + 6).foreach(t =>
          bb.putShort(if (t == 5) -999 else (4 * t + 1).toShort))
        java.nio.file.Files.write(root.resolve(s"v/$c"), bb.array())
      }
      val store = graft.grid.ZarrGridStore.open(root.toString)
      new XarrayContext(s)
        .scratchDataFrame(s"zarr_packed@$root", store, store.chunkMap,
          Seq("t"))
        .select(col("t").cast("long").as("t"),
          when(isnan(col("v")), lit(null)).otherwise(col("v")).as("v"))
    }),
    // v3 with sharding_indexed: stored files are SHARDS (outer chunk
    // grid) holding individually-compressed inner chunks + a
    // crc32c-framed index — how large v3 archives bound their object
    // count. The scan prunes at shard granularity; every surviving
    // shard decodes through the index/inner-codec path
    "pivot_grid_zarr_sharded" -> ((s, _) => {
      val root = QueryTmp.staged("graft_zarr_shard_grid")(base =>
        graft.grid.ZarrV3.write(Fixtures.linearGrid, s"$base/store",
          Map("t" -> 6, "lat" -> 5), "zstd:3",
          shardInner = Map("t" -> 2, "lat" -> 5))) + "/store"
      val store = graft.grid.ZarrGridStore.open(root)
      new XarrayContext(s)
        .scratchDataFrame(s"zarr_shard_grid@$root", store, store.chunkMap,
          Seq("t", "lat", "lon"))
        .filter(col("t") >= 12)
        .select(col("t").cast("long").as("t"), col("lat"), col("lon"),
          col("air"))
    }),
    // same tree encoded with blosc (lz4 + byte-shuffle) — zarr-python's
    // DEFAULT chunk codec and what real archives like ARCO-ERA5 use
    // (reference perf_tests/open_era5.py:7-8): exercises the pure-JVM
    // Blosc container decode on every unpruned chunk read
    "pivot_grid_zarr_blosc" -> ((s, _) => {
      val root = QueryTmp.staged("graft_zarr_blosc_grid")(base =>
        graft.grid.ZarrGridStore.write(Fixtures.linearGrid,
          s"$base/store", Map("t" -> 6, "lat" -> 5), "blosc")) + "/store"
      val store = graft.grid.ZarrGridStore.open(root)
      new XarrayContext(s)
        .scratchDataFrame(s"zarr_blosc_grid@$root", store, store.chunkMap,
          Seq("t", "lat", "lon"))
        .filter(col("t") >= 12)
        .select(col("t").cast("long").as("t"), col("lat"), col("lon"),
          col("air"))
    }),
    // same tree with cname=blosclz + BIT-shuffle — the historical
    // c-blosc default codec and the filter low-entropy archives use;
    // exercises the pure-JVM BloscLz token decode and the bit-matrix
    // unshuffle on every unpruned chunk read
    "pivot_grid_zarr_blosclz" -> ((s, _) => {
      val root = QueryTmp.staged("graft_zarr_blosclz_grid")(base =>
        graft.grid.ZarrGridStore.write(Fixtures.linearGrid,
          s"$base/store", Map("t" -> 6, "lat" -> 5), "blosc:blosclz:bit")) + "/store"
      val store = graft.grid.ZarrGridStore.open(root)
      new XarrayContext(s)
        .scratchDataFrame(s"zarr_blosclz_grid@$root", store, store.chunkMap,
          Seq("t", "lat", "lon"))
        .filter(col("t") >= 12)
        .select(col("t").cast("long").as("t"), col("lat"), col("lon"),
          col("air"))
    }),

    // the plain-Spark WRITE surface: df.write.format("zarr") scatters
    // the pivoted rows through the distributed reverse pivot into a v2
    // tree (executors encode the chunks; byte-identical to the API
    // path, pinned in ZarrWriteFormatSpec) and spark.read.format("zarr")
    // scans it back pruned — create-read round trip with ZERO graft
    // API calls, the full plain-Spark citizenship story
    "pivot_grid_zarr_write" -> ((s, _) => {
      val root = QueryTmp.dir("graft_zarr_write") + "/store"
      grid(s).write.format("zarr")
        .option("dims", "t,lat,lon")
        .option("chunks", "t=6,lat=5")
        .option("compressor", "zstd:3")
        .mode("overwrite").save(root)
      s.read.format("zarr").load(root)
        .filter(col("t") >= 12)
        .select(col("t").cast("long").as("t"), col("lat"), col("lon"),
          col("air"))
    }),

    // same write surface targeting v3 + sharding_indexed: the pivoted
    // rows scatter into SHARD files (executors encode inner chunks +
    // index) and the read back partitions/prunes on INNER chunks via
    // ranged reads — the bounded-object-count write shape and the
    // sub-file read granularity in one round trip
    "pivot_grid_zarr_write_v3" -> ((s, _) => {
      val root = QueryTmp.dir("graft_zarr_write_v3") + "/store"
      grid(s).write.format("zarr")
        .option("dims", "t,lat,lon")
        .option("chunks", "t=6,lat=5")
        .option("format", "v3")
        .option("shards", "t=2")
        .option("compressor", "zstd:3")
        .mode("overwrite").save(root)
      s.read.format("zarr").load(root)
        .filter(col("t") >= 12)
        .select(col("t").cast("long").as("t"), col("lat"), col("lon"),
          col("air"))
    }),

    // zarr-python 3's STRING layout end-to-end: a dataset with a
    // vlen-utf8 string COORDINATE and a vlen-utf8+zstd string DATA
    // variable round-trips through the v3 writer (data_type "string"),
    // re-opens through the vlen decode path, and serves a filter over
    // the string variable — the layout zarr-python 3 emits by default
    // for any string array
    "pivot_grid_zarr_vlen" -> ((s, _) => {
      val root = QueryTmp.staged("graft_zarr_vlen")(base =>
        graft.grid.ZarrV3.write(Fixtures.stationQualityGrid,
          s"$base/store", Map("station" -> 4, "time" -> 5), "zstd:3")) + "/store"
      val store = graft.grid.ZarrGridStore.open(root)
      new XarrayContext(s)
        .scratchDataFrame(s"zarr_vlen@$root", store, store.chunkMap,
          Seq("station", "time"))
        .filter(col("quality") =!= "bad" &&
          col("time") >= lit("2020-01-04").cast("timestamp"))
        .select(col("station"), col("time"), col("reading"), col("quality"))
    }),

    // the SAME string dataset through zarr v2's object-dtype layout
    // (|O + numcodecs vlen-utf8 filter + compressor — what zarr-python
    // 2 writes for string arrays): v2 writer emits it, the reader
    // decodes filter + fill, and the identical query gates both paths
    "pivot_grid_zarr_vlen_v2" -> ((s, _) => {
      val root = QueryTmp.staged("graft_zarr_vlen_v2")(base =>
        graft.grid.ZarrGridStore.write(Fixtures.stationQualityGrid,
          s"$base/store", Map("station" -> 4, "time" -> 5), "zstd:3")) + "/store"
      val store = graft.grid.ZarrGridStore.open(root)
      new XarrayContext(s)
        .scratchDataFrame(s"zarr_vlen_v2@$root", store, store.chunkMap,
          Seq("station", "time"))
        .filter(col("quality") =!= "bad" &&
          col("time") >= lit("2020-01-04").cast("timestamp"))
        .select(col("station"), col("time"), col("reading"), col("quality"))
    }),

    // the SAME string dataset under sharding_indexed: the string
    // variable's vlen-utf8 inner chunks live inside SHARD files under
    // the same (offset, nbytes) index as numeric shards — one stored
    // object per shard at archive scale, inner-chunk ranged reads (with
    // byte-adjacent entries coalesced into single GETs) on the way back
    "pivot_grid_zarr_vlen_sharded" -> ((s, _) => {
      val root = QueryTmp.staged("graft_zarr_vlen_sh")(base =>
        graft.grid.ZarrV3.write(Fixtures.stationQualityGrid,
          s"$base/store", Map("station" -> 4, "time" -> 5), "zstd:3",
          shardInner = Map("station" -> 2))) + "/store"
      val store = graft.grid.ZarrGridStore.open(root)
      new XarrayContext(s)
        .scratchDataFrame(s"zarr_vlen_sh@$root", store, store.chunkMap,
          Seq("station", "time"))
        .filter(col("quality") =!= "bad" &&
          col("time") >= lit("2020-01-04").cast("timestamp"))
        .select(col("station"), col("time"), col("reading"), col("quality"))
    }),

    // HIERARCHICAL tree: two datasets live as subgroups of one root
    // (each subgroup a full zarr root of its own); the read surface's
    // `group` option — xarray's open_zarr(group=...) — selects one,
    // and the scan over it prunes/projects exactly like a flat tree
    "pivot_grid_group" -> ((s, _) => {
      val root = QueryTmp.staged("graft_zarr_group") { base =>
        val tree = s"$base/tree"
        val gdf = new XarrayContext(s).dataFrame("grp_grid",
          Fixtures.linearGrid, Map("t" -> 6), Seq("t", "lat", "lon"))
        gdf.write.format("zarr").option("dims", "t,lat,lon")
          .option("chunks", "t=6,lat=5").mode("overwrite")
          .save(s"$tree/cube")
        gdf.filter(col("t") < 2).write.format("zarr")
          .option("dims", "t,lat,lon").mode("overwrite")
          .save(s"$tree/head")
      } + "/tree"
      s.read.format("zarr").option("group", "cube").load(root)
        .filter(col("t") >= 12)
        .select(col("t").cast("long").as("t"), col("lat"), col("lon"),
          col("air"))
    }),

    // HIERARCHY registration: ONE fromZarrTree call walks a grouped
    // archive and registers every dataset (cube + mask subgroups here)
    // as SQL views; the query then joins across subgroups in plain
    // SQL — the whole-archive registration the reference does one
    // dataset at a time
    "pivot_grid_tree" -> ((s, _) => {
      val root = QueryTmp.staged("graft_zarr_tree") { base =>
        val tree = s"$base/tree"
        graft.grid.ZarrGridStore.write(Fixtures.linearGrid,
          s"$tree/cube", Map("t" -> 6), "zstd:3")
        graft.grid.ZarrGridStore.write(Fixtures.maskGrid, s"$tree/mask",
          Map("lat" -> 6), "zstd:3")
        graft.grid.GridIO.writeString(s"$tree/.zgroup",
          """{"zarr_format":2}""", graft.grid.GridIO.driverConf())
      } + "/tree"
      // view names must be unique under concurrent evaluation
      val tag = java.lang.Long.toHexString(root.hashCode.toLong & 0xffffffffL)
      new XarrayContext(s).fromZarrTree(s"tree_$tag", root)
      s.sql(
        s"""SELECT CAST(g.t AS BIGINT) AS t, COUNT(*) AS cnt,
           |AVG(g.air) AS avg_air
           |FROM tree_${tag}_cube g JOIN tree_${tag}_mask m
           |ON g.lat = m.lat AND g.lon = m.lon
           |WHERE m.mask = 1.0 GROUP BY g.t""".stripMargin)
    }),

    // FOREIGN tree with a raw numpy `<M8[ns]` datetime64 time
    // coordinate (plain zarr-python output, no CF units attribute):
    // the ns offsets decode to µs timestamps, the axis surfaces as a
    // real TIMESTAMP column, and a range filter prunes on the µs zone
    // maps — reference df.py:395 handles the same dtype natively
    "pivot_grid_m8time" -> ((s, _) => {
      val root = QueryTmp.staged("graft_m8time")(base =>
        Fixtures.writeM8Tree(s"$base/store")) + "/store"
      val store = graft.grid.ZarrGridStore.open(root)
      new XarrayContext(s)
        .scratchDataFrame(s"m8time@$root", store, store.chunkMap,
          Seq("time"))
        .filter(col("time") >= lit("2021-01-01 12:00:00").cast("timestamp"))
        .select(col("time"), col("temp"))
    }),

    // numpy-bool (|b1) MASK variable — the land/sea-mask shape every
    // geoscience archive carries: 0/1 ints, queried as `mask = 1`,
    // masking a sibling variable's aggregate
    "pivot_grid_bool_mask" -> ((s, _) => {
      val root = QueryTmp.staged("graft_boolmask")(base =>
        Fixtures.writeBoolMaskTree(s"$base/store")) + "/store"
      val store = graft.grid.ZarrGridStore.open(root)
      new XarrayContext(s)
        .scratchDataFrame(s"boolmask@$root", store, store.chunkMap,
          Seq("t"))
        .filter(col("mask") === 1)
        .agg(count(lit(1)).as("n_masked"),
          sum("temp").as("sum_temp"))
    }),

    // 0-d SCALAR variable (rioxarray's spatial_ref CRS pattern): the
    // scalar registers as the reference's 1-row table (sql.py:112) and
    // joins against an aggregate of the dimensional table — the
    // "stamp every result row with the dataset CRS" query
    "pivot_grid_scalar" -> ((s, _) => {
      // round-trip the scalar through THIS REPO'S writer (round 11:
      // 0-d variables write too) — the gated store is repo-written
      val root = QueryTmp.staged("graft_rio") { base =>
        val rioRoot = s"$base/store"
        Fixtures.writeRioTree(rioRoot)
        graft.grid.ZarrGridStore.write(
          graft.grid.ZarrGridStore.open(rioRoot), s"$base/rewritten",
          Map("t" -> 3), "zstd:3")
      } + "/rewritten"
      val store = graft.grid.ZarrGridStore.open(root)
      val tag = s"rio_${Math.abs(root.hashCode)}"
      new XarrayContext(s).fromDataset(tag, store, store.chunkMap)
      s.sql(
        s"""SELECT sc.spatial_ref, t.n_obs, t.avg_temp
           |FROM ${tag}_scalar sc
           |CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS n_obs,
           |                   avg(temp) AS avg_temp
           |            FROM ${tag}_t) t""".stripMargin)
    }),

    // CF-ENCODED time DATA variable on a foreign tree (int64 "seconds
    // since ..." + _FillValue, the layout xarray's to_zarr emits and
    // its decode_cf reverses): offsets decode to timestamps lazily at
    // chunk-read time, _FillValue cells surface as SQL NULL
    "pivot_grid_cfvar" -> ((s, _) => {
      val root = QueryTmp.staged("graft_cfvar")(base =>
        Fixtures.writeCfTimeVarTree(s"$base/store")) + "/store"
      val store = graft.grid.ZarrGridStore.open(root)
      new XarrayContext(s)
        .scratchDataFrame(s"cfvar@$root", store, store.chunkMap,
          Seq("t"))
        .filter(col("obs").isNull ||
          col("obs") < lit("2021-01-01 12:00:00").cast("timestamp"))
        .select(col("t"), col("obs"), col("temp"))
    }),

    // timestamp DATA variable through the full write surface: the row
    // scatter emits `<M8[us]` (NULL cells -> NaT), the tree re-opens
    // with the time-ness intact, and NaT comes back as SQL NULL — a
    // zarr round trip of an observation-time column, not just a coord
    "pivot_grid_m8_write" -> ((s, _) => {
      val root = QueryTmp.dir("graft_m8_write") + "/store"
      val src = s.range(0, 24).toDF("t")
        .select(col("t").cast("int").as("t"),
          when(col("t") % 7 === 3, lit(null))
            .otherwise(timestamp_seconds(lit(1609459200L) +
              col("t") * 3600 + 90)).as("obs"),
          (col("t").cast("double") * 0.5 + 15.0).as("temp"))
      val schema = graft.grid.GridSchema(
        Seq(graft.grid.DimDef("t",
          graft.grid.IntCoords((0 until 24).toArray))),
        Seq(graft.grid.VarDef("obs", Seq("t"), graft.grid.GTimestamp),
          graft.grid.VarDef("temp", Seq("t"), graft.grid.GDouble)))
      val store = graft.grid.ZarrGridStore.writeFromRows(src, schema,
        Map("t" -> 6), root, "zstd:3")
      new XarrayContext(s)
        .scratchDataFrame(s"m8write@$root", store, store.chunkMap,
          Seq("t"))
        .filter(col("obs").isNull ||
          col("obs") < lit("2021-01-01 12:00:00").cast("timestamp"))
        .select(col("t").cast("long").as("t"), col("obs"), col("temp"))
    }),

    // NaT (numpy's missing-time marker) in an M8 DATA variable
    // surfaces as SQL NULL — the filter exercises three-valued logic
    // across the null cells (IS NULL picks up every NaT hour, the
    // comparison silently skips them), matching xarray's NaT handling
    "pivot_grid_m8nat" -> ((s, _) => {
      val root = QueryTmp.staged("graft_m8nat")(base =>
        Fixtures.writeM8NatTree(s"$base/store")) + "/store"
      val store = graft.grid.ZarrGridStore.open(root)
      new XarrayContext(s)
        .scratchDataFrame(s"m8nat@$root", store, store.chunkMap,
          Seq("time"))
        .filter(col("obs").isNull ||
          col("obs") < lit("2021-01-01 12:00:00").cast("timestamp"))
        .select(col("time"), col("obs"))
    }),

    // foreign `<u8` (uint64) variable: widens to BIGINT with loud
    // overflow past Long.Max (pinned in ZarrTimeDtypeSpec); values
    // past 2^40 prove genuine 64-bit width survives the pivot
    "pivot_grid_u8" -> ((s, _) => {
      val root = QueryTmp.staged("graft_u8")(base =>
        Fixtures.writeU8Tree(s"$base/store")) + "/store"
      val store = graft.grid.ZarrGridStore.open(root)
      new XarrayContext(s)
        .scratchDataFrame(s"u8@$root", store, store.chunkMap, Seq("i"))
        .filter(col("i") >= 2)
        .select(col("i"), col("cnt"))
    }),

    // compaction end-to-end: a fragmented store (8 small t-chunks, the
    // shape appends leave behind) rechunks distributedly into 2 big
    // ones, and the REWRITTEN store serves the same filtered scan —
    // values, recomputed zone-map stats, and pruning all survive the
    // rewrite (the unit spec pins the open-counts; the gate pins the
    // values).
    "pivot_grid_rechunk" -> ((s, _) => {
      val base = QueryTmp.dir("graft_rechunk_grid")
      val frag = graft.grid.ZarrV3.writeFromRows(grid(s),
        Fixtures.linearGrid.schema, Map("t" -> 3), base + "/frag", "zstd")
      val compact = new XarrayContext(s)
        .rechunk(frag, Map("t" -> 12), base + "/compact")
      new XarrayContext(s)
        .scratchDataFrame(s"compact_grid@$base", compact, compact.chunkMap,
          Seq("t", "lat", "lon"))
        .filter(col("t") >= 12)
        .select(col("t").cast("long").as("t"), col("lat"), col("lon"),
          col("air"))
    }),

    // the multi-store dataset (open_mfdataset/xr.concat analog): two
    // t-slabs of the same grid live as separate stores; the concat VIEW
    // unions their scans and a boundary-spanning filter reads from both
    // — each member prunes with its own zone maps (pinned in
    // GridSourceSpec "concat view prunes each member independently").
    // the concat fleet as PURE SQL: the same two t-slabs register as ONE
    // catalog table (ConcatGridTable) and `SELECT ... FROM cat.view`
    // unions their scans through Spark's catalog machinery — per-member
    // chunk grids and zone maps intact (open counts pinned in
    // ConcatGridSourceSpec), metadata COUNT/MIN/MAX surviving as
    // per-member partials. Reference analog: multi-dataset registration
    // into one SQL context (xarray_sql/sql.py:105-125).
    "pivot_grid_concat_sql" -> ((s, _) => {
      // unique catalog name per evaluation (concurrent evaluations must
      // not cross-resolve registry entries)
      val cat = "cc" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      val q = new XarrayContext(s).concatCatalogTable(cat, "concat_view",
        Seq(
          (Fixtures.linearGridSlice(0, 12), Map("t" -> 6)),
          (Fixtures.linearGridSlice(12, 24), Map("t" -> 6))),
        Seq("t", "lat", "lon"))
      s.sql(s"""SELECT CAST(t AS BIGINT) AS t, lat, lon, air FROM $q
               |WHERE t BETWEEN 8 AND 15""".stripMargin)
    }),

    "pivot_grid_concat" -> ((s, _) => {
      // unique registry key prefix per evaluation: concurrent
      // evaluations must not race register/unregister on shared keys
      // (ConcurrentEvalSpec pins this)
      val key = "concat_grid@" +
        java.util.UUID.randomUUID().toString.take(8)
      new XarrayContext(s)
        .concatDataFrame(key, Seq(
          (Fixtures.linearGridSlice(0, 12), Map("t" -> 6)),
          (Fixtures.linearGridSlice(12, 24), Map("t" -> 6))),
          Seq("t", "lat", "lon"))
        .filter(col("t").between(8, 15))
        .select(col("t").cast("long").as("t"), col("lat"), col("lon"),
          col("air"))
    })
  )

  val oracleSql: ListMap[String, String] = ListMap(
    "pivot_grid" ->
      s"""WITH $oracleGrid
         |SELECT CAST(t AS BIGINT) AS t, lat, lon, air FROM grid""".stripMargin,
    "pivot_grid_agg" ->
      s"""WITH $oracleGrid
         |SELECT lat, AVG(air) AS avg_air FROM grid GROUP BY lat""".stripMargin,
    "pivot_grid_idxmax" ->
      s"""WITH $oracleGrid
         |SELECT lat, lon, CAST(arg_max(t, air) AS BIGINT) AS t_peak,
         |MAX(air) AS peak_air
         |FROM grid GROUP BY lat, lon""".stripMargin,
    "pivot_grid_idxmin" ->
      s"""WITH $oracleGrid
         |SELECT lat, lon, CAST(arg_min(t, air) AS BIGINT) AS t_low,
         |MIN(air) AS low_air
         |FROM grid GROUP BY lat, lon""".stripMargin,
    "pivot_grid_append" ->
      s"""WITH $oracleGrid
         |SELECT CAST(t AS BIGINT) AS t, lat, lon, air FROM grid
         |WHERE t BETWEEN 8 AND 20""".stripMargin,
    "pivot_grid_where" ->
      s"""WITH $oracleGrid
         |SELECT CAST(g.t AS BIGINT) AS t, g.lat, g.lon,
         |CASE WHEN (3 * CAST((75.0 - g.lat) / 2.5 AS BIGINT)
         |         + CAST((g.lon - 200.0) / 2.5 AS BIGINT)) % 5 < 3
         |  THEN g.air END AS air_masked
         |FROM grid g""".stripMargin,
    "pivot_grid_interp" ->
      s"""WITH $oracleGrid,
         |led AS (
         |  SELECT t, lat, lon, air,
         |  lead(air, 1) OVER (PARTITION BY lat, lon ORDER BY t) AS nxt
         |  FROM grid)
         |SELECT CAST(t AS DOUBLE) + 0.5 AS t_mid, lat, lon,
         |(air + nxt) / 2.0 AS air_mid
         |FROM led WHERE nxt IS NOT NULL""".stripMargin,
    "pivot_grid_coarsen" ->
      s"""WITH $oracleGrid
         |SELECT CAST(t AS BIGINT) AS t,
         |CAST(floor(((75.0 - lat) / 2.5) / 2.0) AS BIGINT) AS lat_blk,
         |CAST(floor(((lon - 200.0) / 2.5) / 2.0) AS BIGINT) AS lon_blk,
         |CAST(COUNT(*) AS BIGINT) AS cnt, AVG(air) AS air_mean
         |FROM grid GROUP BY 1, 2, 3""".stripMargin,
    "pivot_grid_selnearest" ->
      s"""WITH $oracleGrid,
         |q(qv) AS (VALUES (52.3), (61.7), (74.9)),
         |lats AS (SELECT DISTINCT lat FROM grid),
         |near AS (
         |  SELECT qv AS q, lat FROM (
         |    SELECT qv, lat, row_number() OVER (PARTITION BY qv
         |      ORDER BY abs(lat - qv), lat) AS rn
         |    FROM q, lats) x WHERE rn = 1)
         |SELECT near.q, near.lat, CAST(g.t AS BIGINT) AS t,
         |AVG(g.air) AS air_mean
         |FROM grid g JOIN near ON g.lat = near.lat
         |GROUP BY 1, 2, 3""".stripMargin,
    "pivot_grid_cumsum" ->
      s"""WITH $oracleGrid
         |SELECT CAST(t AS BIGINT) AS t, lat, lon,
         |SUM(air) OVER (PARTITION BY lat, lon ORDER BY t
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS air_cum
         |FROM grid""".stripMargin,
    "pivot_grid_rolling" ->
      s"""WITH $oracleGrid
         |SELECT CAST(t AS BIGINT) AS t, lat, lon,
         |AVG(air) OVER (PARTITION BY lat, lon ORDER BY t
         |  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS air_roll3
         |FROM grid""".stripMargin,
    "pivot_grid_diff" ->
      s"""WITH $oracleGrid
         |SELECT t, lat, lon, d_air FROM (
         |  SELECT CAST(t AS BIGINT) AS t, lat, lon,
         |  air - lag(air, 1) OVER (PARTITION BY lat, lon ORDER BY t)
         |    AS d_air
         |  FROM grid) x
         |WHERE d_air IS NOT NULL""".stripMargin,
    "pivot_grid_ffill" ->
      s"""WITH $oracleGrid,
         |gappy AS (
         |  SELECT t, lat, lon,
         |  CASE WHEN (t + CAST((75.0 - lat) / 2.5 AS BIGINT)
         |           + CAST((lon - 200.0) / 2.5 AS BIGINT)) % 7 <> 0
         |    THEN air END AS gappy
         |  FROM grid)
         |SELECT CAST(t AS BIGINT) AS t, lat, lon,
         |last_value(gappy IGNORE NULLS) OVER (
         |  PARTITION BY lat, lon ORDER BY t
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS air_ffill
         |FROM gappy""".stripMargin,
    "pivot_grid_bfill" ->
      s"""WITH $oracleGrid,
         |gappy AS (
         |  SELECT t, lat, lon,
         |  CASE WHEN (t + CAST((75.0 - lat) / 2.5 AS BIGINT)
         |           + CAST((lon - 200.0) / 2.5 AS BIGINT)) % 7 <> 0
         |    THEN air END AS gappy
         |  FROM grid)
         |SELECT CAST(t AS BIGINT) AS t, lat, lon,
         |first_value(gappy IGNORE NULLS) OVER (
         |  PARTITION BY lat, lon ORDER BY t
         |  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS air_bfill
         |FROM gappy""".stripMargin,
    "pivot_grid_quantile" ->
      s"""WITH $oracleGrid
         |SELECT lat, lon,
         |quantile_cont(CAST(air AS DOUBLE), 0.25) AS q25,
         |quantile_cont(CAST(air AS DOUBLE), 0.5) AS q50
         |FROM grid GROUP BY lat, lon""".stripMargin,
    "pivot_grid_differentiate" ->
      s"""WITH $oracleGrid,
         |led AS (
         |  SELECT t, lat, lon, air,
         |  lag(air, 1) OVER (PARTITION BY lat, lon ORDER BY t) AS prv,
         |  lead(air, 1) OVER (PARTITION BY lat, lon ORDER BY t) AS nxt
         |  FROM grid)
         |SELECT CAST(t AS BIGINT) AS t, lat, lon,
         |CASE WHEN prv IS NULL THEN nxt - air
         |     WHEN nxt IS NULL THEN air - prv
         |     ELSE (nxt - prv) / 2.0 END AS dair_dt
         |FROM led""".stripMargin,
    "pivot_grid_valbins" ->
      s"""WITH $oracleGrid
         |SELECT CAST(floor(air / 25.0) AS BIGINT) AS air_bin,
         |CAST(COUNT(*) AS BIGINT) AS cnt, AVG(air) AS bin_mean
         |FROM grid GROUP BY 1""".stripMargin,
    "pivot_grid_stack" ->
      s"""WITH $oracleGrid,
         |pts AS (
         |  SELECT lat, lon,
         |  CAST(row_number() OVER (ORDER BY lat, lon) - 1 AS BIGINT) AS point
         |  FROM (SELECT DISTINCT lat, lon FROM grid))
         |SELECT CAST(g.t AS BIGINT) AS t, p.point, g.lat, g.lon, g.air
         |FROM grid g JOIN pts p ON g.lat = p.lat AND g.lon = p.lon""".stripMargin,
    // stack then unstack is the identity on the pivoted table
    "pivot_grid_unstack" ->
      s"""WITH $oracleGrid
         |SELECT CAST(t AS BIGINT) AS t, lat, lon, air FROM grid""".stripMargin,
    "pivot_grid_shift" ->
      s"""WITH $oracleGrid
         |SELECT CAST(t AS BIGINT) AS t, lat, lon,
         |lag(air) OVER (PARTITION BY lat, lon ORDER BY t) AS air_shift
         |FROM grid""".stripMargin,
    "pivot_grid_align" ->
      s"""WITH $oracleGrid,
         |a AS (SELECT t, lat, lon, air AS air_a FROM grid WHERE t < 16),
         |b AS (SELECT t, lat, lon, air AS air_b FROM grid WHERE t >= 8)
         |SELECT CAST(t AS BIGINT) AS t, lat, lon, air_a, air_b
         |FROM a FULL OUTER JOIN b USING (t, lat, lon)""".stripMargin,
    "pivot_grid_roll" ->
      s"""WITH $oracleGrid
         |SELECT CAST(g.t AS BIGINT) AS t, g.lat, g.lon,
         |s.air AS air_rolled
         |FROM grid g JOIN grid s
         |ON s.t = g.t AND s.lat = g.lat
         |AND CAST((s.lon - 200.0) / 2.5 AS BIGINT) =
         |    ((CAST((g.lon - 200.0) / 2.5 AS BIGINT) - 3) + 10) % 10
         |""".stripMargin,
    "pivot_grid_reindex" ->
      s"""WITH $oracleGrid,
         |spine AS (
         |  SELECT CAST(tt AS BIGINT) AS t, lat, lon
         |  FROM generate_series(0, 29) s(tt),
         |       (SELECT DISTINCT lat, lon FROM grid))
         |SELECT sp.t, sp.lat, sp.lon, g.air
         |FROM spine sp LEFT JOIN grid g
         |ON sp.t = g.t AND sp.lat = g.lat AND sp.lon = g.lon""".stripMargin,
    "pivot_grid_rank" ->
      s"""WITH $oracleGrid
         |SELECT CAST(t AS BIGINT) AS t, lat, lon,
         |CAST(floor(air / 25.0) AS BIGINT) AS air_level,
         |rank() OVER (PARTITION BY lat, lon ORDER BY floor(air / 25.0)) +
         |  (COUNT(*) OVER (PARTITION BY lat, lon, floor(air / 25.0)) - 1)
         |  / 2.0 AS rank_t
         |FROM grid""".stripMargin,
    "pivot_grid_regrid" ->
      s"""WITH $oracleGrid,
         |lt AS (SELECT 0.25 + 1.25*k AS p FROM generate_series(0, 7) g(k)),
         |lo AS (SELECT 0.5 + 1.25*m AS p FROM generate_series(0, 6) g(m)),
         |latmap AS (
         |  SELECT p AS lat_t, CAST(floor(p) AS BIGINT) AS li,
         |         1.0 - (p - floor(p)) AS wlat FROM lt
         |  UNION ALL
         |  SELECT p, CAST(floor(p) AS BIGINT) + 1, p - floor(p)
         |  FROM lt WHERE p <> floor(p)),
         |lonmap AS (
         |  SELECT p AS lon_t, CAST(floor(p) AS BIGINT) AS lj,
         |         1.0 - (p - floor(p)) AS wlon FROM lo
         |  UNION ALL
         |  SELECT p, CAST(floor(p) AS BIGINT) + 1, p - floor(p)
         |  FROM lo WHERE p <> floor(p)),
         |idx AS (
         |  SELECT CAST(t AS BIGINT) AS t,
         |  CAST((75.0 - lat) / 2.5 AS BIGINT) AS li,
         |  CAST((lon - 200.0) / 2.5 AS BIGINT) AS lj, air FROM grid)
         |SELECT i.t, 75.0 - 2.5*a.lat_t AS lat,
         |200.0 + 2.5*b.lon_t AS lon,
         |SUM(i.air * a.wlat * b.wlon) AS air_interp
         |FROM idx i JOIN latmap a ON i.li = a.li
         |JOIN lonmap b ON i.lj = b.lj
         |GROUP BY i.t, a.lat_t, b.lon_t""".stripMargin,
    "pivot_grid_integrate" ->
      s"""WITH $oracleGrid,
         |led AS (
         |  SELECT lat, lon, air,
         |  lead(air, 1) OVER (PARTITION BY lat, lon ORDER BY t) AS nxt
         |  FROM grid)
         |SELECT lat, lon, SUM((air + nxt) / 2.0) AS air_integral
         |FROM led WHERE nxt IS NOT NULL GROUP BY lat, lon""".stripMargin,
    "pivot_grid_lazyslice" ->
      s"""WITH $oracleGrid
         |SELECT CAST(t AS BIGINT) AS t, lat, lon, air FROM grid
         |WHERE t BETWEEN 6 AND 11 AND lat IN (75.0, 67.5, 62.5)""".stripMargin,
    "pivot_grid_twovar" ->
      """SELECT TIMESTAMP '2020-01-01' + k * INTERVAL 1 DAY AS time,
        |-90.0 + 45.0*i AS lat,
        |CAST(5*k + i AS DOUBLE) AS temperature,
        |0.5 * (5*k + i) AS precipitation,
        |CAST(5*k + i AS DOUBLE) - 0.5 * (5*k + i) AS net
        |FROM generate_series(0, 9) g1(k), generate_series(0, 4) g2(i)""".stripMargin,
    "pivot_grid_frommap" ->
      s"""WITH $oracleGrid
         |SELECT CAST(t AS BIGINT) AS t, lat, lon, air FROM grid""".stripMargin,
    "pivot_grid_join" ->
      s"""WITH $oracleGrid,
         |mask AS (
         |  SELECT 75.0 - 2.5*i AS lat, 200.0 + 2.5*j AS lon,
         |         CASE WHEN (3*i + j) % 5 < 3 THEN 1.0 ELSE 0.0 END AS mask
         |  FROM generate_series(0, 11) m1(i), generate_series(0, 9) m2(j))
         |SELECT CAST(g.t AS BIGINT) AS t, CAST(COUNT(*) AS BIGINT) AS cnt,
         |AVG(g.air) AS avg_air
         |FROM grid g JOIN mask m ON g.lat = m.lat AND g.lon = m.lon
         |WHERE m.mask = 1.0
         |GROUP BY g.t""".stripMargin,
    "pivot_grid_filter" ->
      s"""WITH $oracleGrid
         |SELECT lon, CAST(COUNT(*) AS BIGINT) AS cnt, AVG(air) AS avg_air
         |FROM grid WHERE t BETWEEN 6 AND 17 AND lat > 60.0
         |GROUP BY lon""".stripMargin,
    "pivot_grid_anomaly" ->
      s"""WITH $oracleGrid,
         |clim AS (SELECT lat, lon, AVG(air) AS m FROM grid GROUP BY lat, lon)
         |SELECT CAST(g.t AS BIGINT) AS t, g.lat, g.lon, g.air - c.m AS anom
         |FROM grid g JOIN clim c ON g.lat = c.lat AND g.lon = c.lon""".stripMargin,
    "pivot_grid_station_zarr" ->
      """WITH st AS (
        |  SELECT 'st_' || CAST(i AS VARCHAR) AS station,
        |         TIMESTAMP '2020-01-01' + INTERVAL (t) DAY AS time,
        |         100.0 + 7.0*i + 0.25*t AS reading
        |  FROM generate_series(0, 7) g1(i), generate_series(0, 9) g2(t))
        |SELECT station, time, reading FROM st
        |WHERE station IN ('st_1','st_4')
        |AND time >= TIMESTAMP '2020-01-04'""".stripMargin,
    "pivot_grid_station" ->
      """WITH st AS (
        |  SELECT 'st_' || CAST(i AS VARCHAR) AS station,
        |         TIMESTAMP '2020-01-01' + INTERVAL (t) DAY AS time,
        |         100.0 + 7.0*i + 0.25*t AS reading
        |  FROM generate_series(0, 7) g1(i), generate_series(0, 9) g2(t))
        |SELECT station, time, reading FROM st
        |WHERE station IN ('st_1','st_4')
        |AND time >= TIMESTAMP '2020-01-04'""".stripMargin,
    "pivot_grid_station_range" ->
      """WITH st AS (
        |  SELECT 'st_' || CAST(i AS VARCHAR) AS station,
        |         TIMESTAMP '2020-01-01' + INTERVAL (t) DAY AS time,
        |         100.0 + 7.0*i + 0.25*t AS reading
        |  FROM generate_series(0, 7) g1(i), generate_series(0, 9) g2(t))
        |SELECT station, time, reading FROM st
        |WHERE station >= 'st_4' AND station < 'st_7'
        |AND station LIKE 'st%'
        |AND time < TIMESTAMP '2020-01-06'""".stripMargin,
    "pivot_grid_groupcount" ->
      s"""WITH $oracleGrid
         |SELECT lat, CAST(COUNT(*) AS BIGINT) AS cnt,
         |CAST(MIN(t) AS BIGINT) AS t_min, CAST(MAX(t) AS BIGINT) AS t_max
         |FROM grid WHERE t >= 6 GROUP BY lat""".stripMargin,
    "pivot_grid_or" ->
      s"""WITH $oracleGrid
         |SELECT CAST(t AS BIGINT) AS t, lat, lon, air
         |FROM grid WHERE t >= 18 OR lat >= 74.0""".stripMargin,
    "pivot_grid_metasum" ->
      s"""WITH $oracleGrid
         |SELECT SUM(air) AS sum_air
         |FROM grid WHERE t BETWEEN 3 AND 20""".stripMargin,
    "pivot_grid_metamean" ->
      s"""WITH $oracleGrid
         |SELECT AVG(air) AS mean_air
         |FROM grid WHERE t BETWEEN 3 AND 20""".stripMargin,
    "pivot_grid_varstats" ->
      s"""WITH $oracleGrid
         |SELECT CAST(t AS BIGINT) AS t, lat, lon, air
         |FROM grid WHERE air >= 255.0""".stripMargin,
    "pivot_grid_zarr_varstats" ->
      s"""WITH $oracleGrid
         |SELECT CAST(t AS BIGINT) AS t, lat, lon, air
         |FROM grid WHERE air >= 255.0""".stripMargin,
    "pivot_grid_zarr_strstats" ->
      // grade law replayed as literal arithmetic; grade >= 'g2' AND
      // grade LIKE 'g%' over ASCII grades == k >= 50 on both engines
      """SELECT TIMESTAMP '2020-01-01' + k * INTERVAL 1 DAY AS time,
        |10.0*i AS lat, 'g' || CAST(k // 25 AS VARCHAR) AS grade
        |FROM generate_series(0, 99) g1(k), generate_series(0, 4) g2(i)
        |WHERE 'g' || CAST(k // 25 AS VARCHAR) >= 'g2'""".stripMargin,
    "pivot_grid_timedelta" ->
      """WITH fc AS (
        |  SELECT TIMESTAMP '2021-01-01' + INTERVAL (t*6) HOUR AS time, l,
        |         10.0 + 1.0*t + 0.25*l AS fc
        |  FROM generate_series(0, 3) g1(t), generate_series(0, 5) g2(l))
        |SELECT time + INTERVAL (l*6) HOUR AS valid_time, fc
        |FROM fc WHERE l*6 >= 12""".stripMargin,
    // cftime('2000-07-01') in 360_day/"days since 2000-01-01" = offset
    // 6*30 = 180; the oracle replays the offset arithmetic as a literal
    "pivot_grid_cftime" ->
      """WITH cal AS (
        |  SELECT t, 10.0*i AS lat, 100.0 + 0.5*t + 3.0*i AS temp
        |  FROM generate_series(0, 359) g1(t),
        |       generate_series(0, 3) g2(i))
        |SELECT CAST(t AS BIGINT) AS time, lat, temp
        |FROM cal WHERE t >= 180""".stripMargin,
    "pivot_grid_bins" ->
      s"""WITH $oracleGrid
         |SELECT CAST(floor((75.0 - lat) / 7.5) AS BIGINT) AS lat_bin,
         |CAST(t AS BIGINT) AS t, CAST(COUNT(*) AS BIGINT) AS cnt,
         |AVG(air) AS air_mean
         |FROM grid GROUP BY 1, 2""".stripMargin,
    "pivot_grid_wmean" ->
      s"""WITH $oracleGrid
         |SELECT CAST(t AS BIGINT) AS t, lon,
         |SUM(air * (lat - 45.0) / 2.5) / SUM((lat - 45.0) / 2.5)
         |  AS air_wmean
         |FROM grid GROUP BY 1, 2""".stripMargin,
    "pivot_grid_corr" ->
      """WITH g AS (
        |  SELECT t, -60.0 + 30.0*i AS lat,
        |         200.0 + t + 2.0*i AS a,
        |         CAST(t*t AS DOUBLE) AS b
        |  FROM generate_series(0, 23) g1(t), generate_series(0, 4) g2(i))
        |SELECT lat,
        |(COUNT(*) * SUM(a*b) - SUM(a)*SUM(b)) /
        |  (sqrt(COUNT(*) * SUM(a*a) - SUM(a)*SUM(a)) *
        |   sqrt(COUNT(*) * SUM(b*b) - SUM(b)*SUM(b))) AS corr_ab
        |FROM g GROUP BY lat""".stripMargin,
    "pivot_grid_detrend" ->
      """WITH g AS (
        |  SELECT t, -60.0 + 30.0*i AS lat, CAST(t*t AS DOUBLE) AS b
        |  FROM generate_series(0, 23) g1(t), generate_series(0, 4) g2(i)),
        |coef AS (
        |  SELECT lat,
        |  (COUNT(*) * SUM(CAST(t AS DOUBLE) * b)
        |     - SUM(CAST(t AS DOUBLE)) * SUM(b)) /
        |    (COUNT(*) * SUM(CAST(t AS DOUBLE) * CAST(t AS DOUBLE))
        |     - SUM(CAST(t AS DOUBLE)) * SUM(CAST(t AS DOUBLE))) AS slope,
        |  (SUM(CAST(t AS DOUBLE) * CAST(t AS DOUBLE)) * SUM(b)
        |     - SUM(CAST(t AS DOUBLE)) * SUM(CAST(t AS DOUBLE) * b)) /
        |    (COUNT(*) * SUM(CAST(t AS DOUBLE) * CAST(t AS DOUBLE))
        |     - SUM(CAST(t AS DOUBLE)) * SUM(CAST(t AS DOUBLE)))
        |    AS intercept
        |  FROM g GROUP BY lat)
        |SELECT CAST(g.t AS BIGINT) AS t, g.lat,
        |g.b - (c.intercept + c.slope * CAST(g.t AS DOUBLE)) AS b_detrended
        |FROM g JOIN coef c ON g.lat = c.lat""".stripMargin,
    "pivot_grid_trend" ->
      s"""WITH $oracleGrid
         |SELECT lat, lon,
         |(COUNT(*) * SUM(CAST(t AS DOUBLE) * air)
         |   - SUM(CAST(t AS DOUBLE)) * SUM(air)) /
         |  (COUNT(*) * SUM(CAST(t AS DOUBLE) * CAST(t AS DOUBLE))
         |   - SUM(CAST(t AS DOUBLE)) * SUM(CAST(t AS DOUBLE))) AS slope,
         |(SUM(CAST(t AS DOUBLE) * CAST(t AS DOUBLE)) * SUM(air)
         |   - SUM(CAST(t AS DOUBLE)) * SUM(CAST(t AS DOUBLE) * air)) /
         |  (COUNT(*) * SUM(CAST(t AS DOUBLE) * CAST(t AS DOUBLE))
         |   - SUM(CAST(t AS DOUBLE)) * SUM(CAST(t AS DOUBLE)))
         |  AS intercept
         |FROM grid GROUP BY lat, lon""".stripMargin,
    // cftime('1900-03-01') in julian/"days since 1900-01-01" = 31 + 29
    // = 60 (1900 IS a julian leap year); the oracle replays the julian
    // leap arithmetic as the folded literal
    "pivot_grid_julian" ->
      """WITH cal AS (
        |  SELECT t, 10.0*i AS lat, 100.0 + 0.5*t + 3.0*i AS temp
        |  FROM generate_series(0, 119) g1(t),
        |       generate_series(0, 3) g2(i))
        |SELECT CAST(t AS BIGINT) AS time, lat, temp
        |FROM cal WHERE t >= 60""".stripMargin,
    "pivot_grid_climatology" ->
      """WITH cal AS (
        |  SELECT t, 10.0*i AS lat, 100.0 + 0.5*t + 3.0*i AS temp
        |  FROM generate_series(0, 359) g1(t),
        |       generate_series(0, 3) g2(i))
        |SELECT CAST((t % 360) // 30 AS BIGINT) AS month, lat,
        |AVG(temp) AS mean_temp, CAST(COUNT(*) AS BIGINT) AS n
        |FROM cal GROUP BY 1, 2""".stripMargin,
    "pivot_grid_resample" ->
      // the noleap decode replayed as literal arithmetic (see the
      // pivot_grid_noleap oracle), bucketed by civil month
      """WITH cal AS (
        |  SELECT t, 10.0*i AS lat, 100.0 + 0.5*t + 3.0*i AS temp,
        |         TIMESTAMP '2000-01-01 00:00:00' +
        |           (CASE WHEN t >= 59 THEN t + 1 ELSE t END) * INTERVAL 1 DAY
        |           AS time
        |  FROM generate_series(0, 119) g1(t),
        |       generate_series(0, 3) g2(i))
        |SELECT date_trunc('month', time) AS month, lat,
        |AVG(temp) AS mean_temp, CAST(COUNT(*) AS BIGINT) AS n
        |FROM cal GROUP BY 1, 2""".stripMargin,
    "pivot_grid_cfoffset" ->
      // replay the offset fold as literal arithmetic: the reference
      // "2000-01-01 00:00:00 +01:00" is 1999-12-31T23:00 UTC, offsets
      // are whole hours from there
      """WITH g AS (
        |  SELECT t, 10.0*i AS lat, 100.0 + 0.5*t + 3.0*i AS temp,
        |  TIMESTAMP '1999-12-31 23:00:00' + t * INTERVAL 1 HOUR AS time
        |  FROM generate_series(0, 95) g1(t),
        |       generate_series(0, 3) g2(i))
        |SELECT time, lat, temp FROM g
        |WHERE time >= TIMESTAMP '2000-01-02 00:00:00'""".stripMargin,
    "pivot_grid_noleap" ->
      // replay the noleap decode as literal arithmetic: offsets < 59
      // (Jan 1 - Feb 28) land on the same real dates; from offset 59 on
      // the real timeline has one extra day (Feb 29 2000) the noleap
      // calendar skips, so the real date is offset + 1 days after the
      // epoch. All 120 offsets stay inside year 2000.
      """WITH cal AS (
        |  SELECT t, 10.0*i AS lat, 100.0 + 0.5*t + 3.0*i AS temp,
        |         TIMESTAMP '2000-01-01 00:00:00' +
        |           (CASE WHEN t >= 59 THEN t + 1 ELSE t END) * INTERVAL 1 DAY
        |           AS time
        |  FROM generate_series(0, 119) g1(t),
        |       generate_series(0, 3) g2(i))
        |SELECT time, lat, temp FROM cal
        |WHERE time >= TIMESTAMP '2000-03-01 00:00:00'""".stripMargin,
    "pivot_grid_allleap" ->
      // replay the all_leap decode as literal arithmetic: coordinate k
      // (0-based, the value-law index) is offset 366+k for k < 59 and
      // 367+k after the skipped 2001-02-29; the calendar's missing day
      // cancels the real timeline's, so real dates are simply
      // 2001-01-01 + k days. Mar 1 2001 is k = 59.
      """WITH cal AS (
        |  SELECT k, 10.0*i AS lat, 100.0 + 0.5*k + 3.0*i AS temp,
        |         TIMESTAMP '2001-01-01 00:00:00' + k * INTERVAL 1 DAY
        |           AS time
        |  FROM generate_series(0, 118) g1(k),
        |       generate_series(0, 3) g2(i))
        |SELECT time, lat, temp FROM cal
        |WHERE time >= TIMESTAMP '2001-03-01 00:00:00'""".stripMargin,
    "pivot_grid_disk" ->
      s"""WITH $oracleGrid
         |SELECT CAST(t AS BIGINT) AS t, lat, lon, air
         |FROM grid WHERE t >= 12""".stripMargin,
    "pivot_grid_zarr" ->
      s"""WITH $oracleGrid
         |SELECT CAST(t AS BIGINT) AS t, lat, lon, air
         |FROM grid WHERE t >= 12""".stripMargin,
    "pivot_grid_zarr_blosc" ->
      s"""WITH $oracleGrid
         |SELECT CAST(t AS BIGINT) AS t, lat, lon, air
         |FROM grid WHERE t >= 12""".stripMargin,
    "pivot_grid_zarr_blosclz" ->
      s"""WITH $oracleGrid
         |SELECT CAST(t AS BIGINT) AS t, lat, lon, air
         |FROM grid WHERE t >= 12""".stripMargin,
    "pivot_grid_zarr_v3" ->
      s"""WITH $oracleGrid
         |SELECT CAST(t AS BIGINT) AS t, lat, lon, air
         |FROM grid WHERE t >= 12""".stripMargin,
    "pivot_grid_zarr_sharded" ->
      s"""WITH $oracleGrid
         |SELECT CAST(t AS BIGINT) AS t, lat, lon, air
         |FROM grid WHERE t >= 12""".stripMargin,
    "pivot_grid_zarr_vlen_v2" ->
      """WITH st AS (
        |  SELECT 'st_' || CAST(i AS VARCHAR) AS station,
        |         TIMESTAMP '2020-01-01' + INTERVAL (t) DAY AS time,
        |         100.0 + 7.0*i + 0.25*t AS reading,
        |         CASE (i + t) % 3 WHEN 0 THEN 'good' WHEN 1 THEN 'ok'
        |              ELSE 'bad' END AS quality
        |  FROM generate_series(0, 7) g1(i), generate_series(0, 9) g2(t))
        |SELECT station, time, reading, quality FROM st
        |WHERE quality <> 'bad'
        |AND time >= TIMESTAMP '2020-01-04'""".stripMargin,
    "pivot_grid_zarr_vlen" ->
      """WITH st AS (
        |  SELECT 'st_' || CAST(i AS VARCHAR) AS station,
        |         TIMESTAMP '2020-01-01' + INTERVAL (t) DAY AS time,
        |         100.0 + 7.0*i + 0.25*t AS reading,
        |         CASE (i + t) % 3 WHEN 0 THEN 'good' WHEN 1 THEN 'ok'
        |              ELSE 'bad' END AS quality
        |  FROM generate_series(0, 7) g1(i), generate_series(0, 9) g2(t))
        |SELECT station, time, reading, quality FROM st
        |WHERE quality <> 'bad'
        |AND time >= TIMESTAMP '2020-01-04'""".stripMargin,
    "pivot_grid_zarr_vlen_sharded" ->
      """WITH st AS (
        |  SELECT 'st_' || CAST(i AS VARCHAR) AS station,
        |         TIMESTAMP '2020-01-01' + INTERVAL (t) DAY AS time,
        |         100.0 + 7.0*i + 0.25*t AS reading,
        |         CASE (i + t) % 3 WHEN 0 THEN 'good' WHEN 1 THEN 'ok'
        |              ELSE 'bad' END AS quality
        |  FROM generate_series(0, 7) g1(i), generate_series(0, 9) g2(t))
        |SELECT station, time, reading, quality FROM st
        |WHERE quality <> 'bad'
        |AND time >= TIMESTAMP '2020-01-04'""".stripMargin,
    "pivot_grid_group" ->
      s"""WITH $oracleGrid
         |SELECT CAST(t AS BIGINT) AS t, lat, lon, air
         |FROM grid WHERE t >= 12""".stripMargin,
    "pivot_grid_tree" ->
      s"""WITH $oracleGrid,
         |mask AS (
         |  SELECT 75.0 - 2.5*i AS lat, 200.0 + 2.5*j AS lon,
         |         CASE WHEN (3*i + j) % 5 < 3 THEN 1.0 ELSE 0.0 END AS mask
         |  FROM generate_series(0, 11) m1(i), generate_series(0, 9) m2(j))
         |SELECT CAST(g.t AS BIGINT) AS t, CAST(COUNT(*) AS BIGINT) AS cnt,
         |AVG(g.air) AS avg_air
         |FROM grid g JOIN mask m ON g.lat = m.lat AND g.lon = m.lon
         |WHERE m.mask = 1.0
         |GROUP BY g.t""".stripMargin,
    "pivot_grid_m8time" ->
      """WITH g AS (
        |  SELECT TIMESTAMP '2021-01-01' + INTERVAL (k) HOUR AS time,
        |         15.0 + 0.5*k AS temp
        |  FROM generate_series(0, 23) t(k))
        |SELECT time, temp FROM g
        |WHERE time >= TIMESTAMP '2021-01-01 12:00:00'""".stripMargin,
    "pivot_grid_bool_mask" ->
      """WITH g AS (
        |  SELECT CASE WHEN k % 3 = 0 THEN 1 ELSE 0 END AS mask,
        |         15.0 + 0.5*k AS temp
        |  FROM generate_series(0, 23) t(k))
        |SELECT CAST(count(*) AS BIGINT) AS n_masked,
        |       sum(temp) AS sum_temp
        |FROM g WHERE mask = 1""".stripMargin,
    "pivot_grid_scalar" ->
      """WITH tv AS (SELECT 15.0 + k AS temp
        |            FROM generate_series(0, 5) t(k))
        |SELECT CAST(4326 AS BIGINT) AS spatial_ref,
        |       CAST(count(*) AS BIGINT) AS n_obs,
        |       avg(temp) AS avg_temp
        |FROM tv""".stripMargin,
    "pivot_grid_cfvar" ->
      """WITH g AS (
        |  SELECT CAST(k AS BIGINT) AS t,
        |         CASE WHEN k % 7 = 3 THEN NULL
        |              ELSE TIMESTAMP '2021-01-01' + INTERVAL (k) HOUR
        |                   + INTERVAL 90 SECOND END AS obs,
        |         15.0 + 0.5*k AS temp
        |  FROM generate_series(0, 23) t(k))
        |SELECT t, obs, temp FROM g
        |WHERE obs IS NULL OR obs < TIMESTAMP '2021-01-01 12:00:00'"""
        .stripMargin,
    "pivot_grid_m8_write" ->
      """WITH g AS (
        |  SELECT k AS t,
        |         CASE WHEN k % 7 = 3 THEN NULL
        |              ELSE TIMESTAMP '2021-01-01' + INTERVAL (k) HOUR
        |                   + INTERVAL 90 SECOND END AS obs,
        |         15.0 + 0.5*k AS temp
        |  FROM generate_series(0, 23) t(k))
        |SELECT CAST(t AS BIGINT) AS t, obs, temp FROM g
        |WHERE obs IS NULL OR obs < TIMESTAMP '2021-01-01 12:00:00'"""
        .stripMargin,
    "pivot_grid_m8nat" ->
      """WITH g AS (
        |  SELECT TIMESTAMP '2021-01-01' + INTERVAL (k) HOUR AS time,
        |         CASE WHEN k % 7 = 3 THEN NULL
        |              ELSE TIMESTAMP '2021-01-01' + INTERVAL (k) HOUR
        |                   + INTERVAL 90 SECOND END AS obs
        |  FROM generate_series(0, 23) t(k))
        |SELECT time, obs FROM g
        |WHERE obs IS NULL OR obs < TIMESTAMP '2021-01-01 12:00:00'"""
        .stripMargin,
    "pivot_grid_u8" ->
      """SELECT CAST(k AS BIGINT) AS i,
        |       CAST(1099511627776 + 3*k AS BIGINT) AS cnt
        |FROM generate_series(0, 9) t(k) WHERE k >= 2""".stripMargin,
    "pivot_grid_zarr_format" ->
      s"""WITH $oracleGrid
         |SELECT CAST(t AS BIGINT) AS t, lat, lon, air
         |FROM grid WHERE t >= 12""".stripMargin,
    "pivot_grid_zarr_fromrows" ->
      s"""WITH $oracleGrid
         |SELECT CAST(t AS BIGINT) AS t, lat, lon, air
         |FROM grid WHERE t >= 12""".stripMargin,
    "pivot_grid_zarr_write" ->
      s"""WITH $oracleGrid
         |SELECT CAST(t AS BIGINT) AS t, lat, lon, air
         |FROM grid WHERE t >= 12""".stripMargin,
    "pivot_grid_zarr_write_v3" ->
      s"""WITH $oracleGrid
         |SELECT CAST(t AS BIGINT) AS t, lat, lon, air
         |FROM grid WHERE t >= 12""".stripMargin,
    "pivot_grid_packed" ->
      // analytic replay of the packed fixture: stored 4t+1 at scale
      // 0.25 offset 10 -> t + 10.25; t=5 is the _FillValue sentinel and
      // the t>=18 chunk is absent (stored fill) -> masked NULL
      """SELECT CAST(t AS BIGINT) AS t,
        |  CASE WHEN t = 5 OR t >= 18 THEN NULL
        |       ELSE t + 10.25 END AS v
        |FROM generate_series(0, 23) g(t)""".stripMargin,
    "pivot_grid_rechunk" ->
      s"""WITH $oracleGrid
         |SELECT CAST(t AS BIGINT) AS t, lat, lon, air
         |FROM grid WHERE t >= 12""".stripMargin,
    "pivot_grid_concat" ->
      s"""WITH $oracleGrid
         |SELECT CAST(t AS BIGINT) AS t, lat, lon, air
         |FROM grid WHERE t BETWEEN 8 AND 15""".stripMargin,
    "pivot_grid_concat_sql" ->
      s"""WITH $oracleGrid
         |SELECT CAST(t AS BIGINT) AS t, lat, lon, air
         |FROM grid WHERE t BETWEEN 8 AND 15""".stripMargin
  )
}
