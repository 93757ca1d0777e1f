package graft.queries

import graft.{SparkEntry, SparkTestBase}
import graft.sources.ReadCounters

/** End-to-end pins for the oracle-gated grid queries that exercise the
  * production paths: the zstd Zarr v3 round trip and the
  * non-Gregorian cftime predicate (both driver-gated in SparkEntry).
  */
class GridQueryE2ESpec extends SparkTestBase {

  test("pivot_grid_disk: writer->zstd store->scan round trip, pruned") {
    val q = SparkEntry.queries("pivot_grid_disk")
    // the store is STAGED once per JVM (QueryTmp.staged): construction
    // builds it on first use and reuses it afterwards. The distributed
    // write runs at first query construction (4 source chunks); reset
    // counters after it so the assertion sees only the disk scan
    val df = q(spark, "unused")
    ReadCounters.reset()
    val rows = df.collect()
    // t in [12, 24): 12 * 12 * 10 cells
    assert(rows.length == 12 * 12 * 10)
    val byKey = rows.map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))
      -> r.getDouble(3)).toMap
    for (t <- Seq(12, 17, 23); i <- Seq(0, 11); j <- Seq(0, 9)) {
      val expected = 200.0 + 1.0 * t + 2.0 * i + 3.0 * j
      assert(byKey((t.toLong, 75.0 - 2.5 * i, 200.0 + 2.5 * j)) == expected,
        s"cell ($t,$i,$j)")
    }
    // t >= 12 with t chunked by 6 over 0..23 -> scan opens 2 of 4 chunks
    assert(ReadCounters.partitionsOpened.sum() == 2L)
    // the scan provably hit zstd chunk files written by the writer —
    // resolve the staged dir through the registry, not a tmpdir
    // listing (robust against residue of killed JVMs)
    val root = graft.queries.QueryTmp.stagedLookup("graft_disk_grid")
      .getOrElse(fail("disk fixture was not staged")) + "/store"
    val files = java.nio.file.Files.walk(
      java.nio.file.Paths.get(root, "air", "c")).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(java.nio.file.Files.isRegularFile(_))
    assert(files.length == 4)
    val store = graft.grid.ZarrV3.open(root)
    assert(store.arrays("air").compressor.exists(_._1 == "zstd"))
  }

  test("pivot_grid_join: mask grid broadcasts; cube side never shuffles pre-join") {
    val df = SparkEntry.queries("pivot_grid_join")(spark, "unused")
    val rows = df.collect()
    assert(rows.length == 24) // one row per t
    // land cells: (3i + j) % 5 < 3 over 12 x 10 -> recompute directly
    val land = for (i <- 0 until 12; j <- 0 until 10
      if (3 * i + j) % 5 < 3) yield (i, j)
    val expCnt = land.size.toLong
    rows.foreach { r =>
      val t = r.getLong(0)
      assert(r.getLong(1) == expCnt, s"cnt at t=$t")
      val expAvg = land.map { case (i, j) =>
        200.0 + t + 2.0 * i + 3.0 * j }.sum / expCnt
      assert(math.abs(r.getDouble(2) - expAvg) < 1e-9, s"avg at t=$t")
    }
    val plan = df.queryExecution.executedPlan.toString
    // exact post-pruning stats mark the 120-row mask broadcastable —
    // the 2880-row cube must not shuffle to meet the join
    assert(plan.contains("BroadcastHashJoin"),
      s"mask grid not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"cube shuffled into a sort-merge join:\n$plan")
  }

  test("pivot_grid_station: string dims exact-push; zone maps skip them") {
    val q = SparkEntry.queries("pivot_grid_station")
    ReadCounters.reset()
    val rows = q(spark, "unused").collect()
    // 2 stations x 7 surviving days
    assert(rows.length == 14)
    val byKey = rows.map(r => (r.getString(0),
      r.getTimestamp(1).toInstant.getEpochSecond) -> r.getDouble(2)).toMap
    for (i <- Seq(1, 4); t <- 3 until 10) {
      val key = (s"st_$i", (18262L + t) * 86400L)
      assert(byKey(key) == 100.0 + 7.0 * i + 0.25 * t, s"cell ($i,$t)")
    }
    // station chunked by 4 -> 2 partitions; the station IN filter is
    // exactly pushed via per-index string equality (beyond the
    // reference, which skips string bounds) — st_1 and st_4 live in
    // different chunks, so BOTH still open
    assert(ReadCounters.partitionsOpened.sum() == 2L)
    // ...while a time bound outside the coordinate range still prunes
    // everything through the numeric zone maps
    val df = new graft.XarrayContext(spark).dataFrame("stations_prune",
      graft.grid.Fixtures.stationGrid, Map("station" -> 4),
      Seq("station", "time"))
    ReadCounters.reset()
    import org.apache.spark.sql.functions._
    assert(df.filter(col("time") < to_timestamp(lit("2019-01-01")))
      .collect().isEmpty)
    assert(ReadCounters.partitionsOpened.sum() == 0L)
  }

  test("pivot_grid_or: cross-dim OR stays residual; zone maps still prune") {
    val q = SparkEntry.queries("pivot_grid_or")
    ReadCounters.reset()
    val rows = q(spark, "unused").collect()
    // t >= 18 (6x12x10) plus lat = 75 rows of t 0..17 (18x1x10)
    assert(rows.length == 720 + 180)
    // lat = 75 lives in every t-chunk, so no block is provably excluded
    // by BOTH arms -> all 4 open (the filter is re-applied by Spark)
    assert(ReadCounters.partitionsOpened.sum() == 4L)
    // an OR whose second arm is impossible everywhere (lon max = 222.5)
    // lets the zone maps exclude chunks 0-2 through the t arm
    val g = SparkEntry.queries("pivot_grid")(spark, "unused")
    ReadCounters.reset()
    import org.apache.spark.sql.functions.col
    assert(g.filter(col("t") >= 18 || col("lon") >= 300.0)
      .collect().length == 720)
    assert(ReadCounters.partitionsOpened.sum() == 1L)
  }

  test("pivot_grid_varstats: value predicate prunes chunks via stats") {
    val q = SparkEntry.queries("pivot_grid_varstats")
    val df = q(spark, "unused") // write happens at construction
    ReadCounters.reset()
    val rows = df.collect()
    // air = 200 + t + 2i + 3j >= 255 <=> t + 2i + 3j >= 55
    val expected = (for (t <- 0 until 24; i <- 0 until 12; j <- 0 until 10
                         if t + 2 * i + 3 * j >= 55) yield 1).size
    assert(rows.length == expected)
    // t-chunk 0 spans air [200, 254] -> provably excluded by the stats
    assert(ReadCounters.partitionsOpened.sum() == 3L)
  }

  test("pivot_grid_timedelta: interval coord prunes; time+lead arithmetic") {
    val q = SparkEntry.queries("pivot_grid_timedelta")
    val df = q(spark, "unused")
    ReadCounters.reset()
    val rows = df.collect()
    // leads 12h..30h survive: 4 init times x 4 leads
    assert(rows.length == 16)
    // lead chunked by 2 over 6 -> interval literal keeps 2 of 3 chunks
    assert(ReadCounters.partitionsOpened.sum() == 2L)
    // valid_time = 2021-01-01 + (t+l)*6h; law fc = 10 + t + 0.25*l.
    // Distinct (t, l) can share a valid_time, so assert each expected
    // (valid_time, value) cell is present
    val base = 18628L * 86400L
    for (t <- 0 until 4; l <- 2 until 6) {
      val key = base + (t + l) * 6 * 3600L
      // multiple (t,l) share a valid_time; just assert the law's value
      // set contains every expected cell value
      assert(rows.exists(r =>
        r.getTimestamp(0).toInstant.getEpochSecond == key &&
          r.getDouble(1) == 10.0 + t + 0.25 * l), s"cell ($t,$l)")
    }
  }

  test("pivot_grid_cftime: 360_day offsets, folded literal prunes chunks") {
    val q = SparkEntry.queries("pivot_grid_cftime")
    val df = q(spark, "unused")
    // cftime('2000-07-01') folds to 180 before reaching the source: the
    // pushed filter must be a plain long comparison (no cftime call left)
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.toLowerCase.contains("cftime"),
      s"cftime survived optimization:\n$optimized")
    ReadCounters.reset()
    val rows = df.collect()
    assert(rows.length == 180 * 4)
    // time chunked by 90 over 360 -> offset >= 180 keeps 2 of 4 chunks
    assert(ReadCounters.partitionsOpened.sum() == 2L)
    val byKey = rows.map(r => (r.getLong(0), r.getDouble(1))
      -> r.getDouble(2)).toMap
    for (t <- Seq(180L, 250L, 359L); i <- 0 until 4) {
      assert(byKey((t, 10.0 * i)) == 100.0 + 0.5 * t + 3.0 * i,
        s"cell ($t,$i)")
    }
  }

  test("pivot_grid_selnearest: dim-only lookup scan + runtime-filtered grid") {
    val df = SparkEntry.queries("pivot_grid_selnearest")(spark, "unused")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the nearest-coordinate lookup must read the lat dim alone (a
    // coordinate scan — no variable column in its ReadSchema)
    assert(plan.contains("cols=[lat]"),
      s"coordinate lookup reads more than the dim column:\n$plan")
    // and the grid side must carry the join-driven runtime filter
    assert(plan.contains("dynamicpruning"),
      s"no runtime filter reached the grid scan:\n$plan")
  }
}
