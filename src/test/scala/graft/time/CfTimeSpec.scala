package graft.time

import graft.{SparkTestBase, XarrayContext}
import graft.grid._
import graft.sources.ReadCounters
import org.apache.spark.sql.functions._

class CfTimeSpec extends SparkTestBase {

  test("calendar classification") {
    import CfCalendar._
    for (c <- Seq("standard", "gregorian", "proleptic_gregorian", "noleap",
      "365_day", "all_leap", "366_day"))
      assert(classify(c) == GregorianLike, c)
    for (c <- Seq("360_day", "julian"))
      assert(classify(c) == NonGregorian, c)
    intercept[IllegalArgumentException](classify("mayan"))
  }

  test("date -> offset conversion per calendar") {
    assert(CfCalendar.dateToOffset("2000-07-01", "days since 2000-01-01",
      "360_day") == 180L)
    assert(CfCalendar.dateToOffset("2001-01-01", "days since 2000-01-01",
      "noleap") == 365L)
    assert(CfCalendar.dateToOffset("2001-03-01", "days since 2000-01-01",
      "noleap") == 365L + 31 + 28)
    assert(CfCalendar.dateToOffset("2001-03-01", "days since 2000-01-01",
      "all_leap") == 366L + 31 + 29)
    // julian: 2000 is a leap year (div by 4), 2001 is not
    assert(CfCalendar.dateToOffset("2001-03-01", "days since 2000-01-01",
      "julian") == 366L + 31 + 28)
    // julian century-leap divergence: 1900 is a julian leap year but
    // NOT a Gregorian one — the case that catches a Gregorian bridge
    // masquerading as julian (offset would be 59)
    assert(CfCalendar.dateToOffset("1900-03-01", "days since 1900-01-01",
      "julian") == 31L + 29L)
    assert(CfCalendar.dateToOffset("1900-03-01", "days since 1900-01-01",
      "standard") == 31L + 28L)
    // and across a multi-century span the leap count stays every-4:
    // julian [1900, 2100) contains 50 leap years (incl. 1900 and 2000),
    // where Gregorian would drop 1900 and 2100
    assert(CfCalendar.dateToOffset("2100-01-01", "days since 1900-01-01",
      "julian") == 200L * 365L + 50L)
    // hours units scale
    assert(CfCalendar.dateToOffset("2000-01-02", "hours since 2000-01-01",
      "360_day") == 24L)
    // gregorian goes through the real timeline (2000 is a leap year)
    assert(CfCalendar.dateToOffset("2000-03-01", "days since 2000-01-01",
      "standard") == 60L)
  }

  test("noleap/all_leap offsets decode onto the real timeline") {
    import CfCalendar._
    // noleap skips the real 2000-02-29: offset 59 is Mar 1
    assert(offsetToMicros(58, "days since 2000-01-01", "noleap") ==
      gregorianMicros(2000, 2, 28))
    assert(offsetToMicros(59, "days since 2000-01-01", "noleap") ==
      gregorianMicros(2000, 3, 1))
    // year rollover at 365 days, every year
    assert(offsetToMicros(365, "days since 2000-01-01", "noleap") ==
      gregorianMicros(2001, 1, 1))
    // all_leap always has Feb 29 — representable in real leap years
    assert(offsetToMicros(59, "days since 2000-01-01", "all_leap") ==
      gregorianMicros(2000, 2, 29))
    assert(offsetToMicros(366, "days since 2000-01-01", "all_leap") ==
      gregorianMicros(2001, 1, 1))
    // ...but 2001's all_leap Feb 29 is off the real timeline
    intercept[java.time.DateTimeException](
      offsetToMicros(366 + 59, "days since 2000-01-01", "all_leap"))
    // sub-day units carry through the day bridge
    assert(offsetToMicros(25, "hours since 2000-02-28", "noleap") ==
      gregorianMicros(2000, 3, 1, hour = 1))
    // non-Gregorian calendars refuse the timestamp bridge
    intercept[IllegalArgumentException](
      offsetToMicros(0, "days since 2000-01-01", "360_day"))
  }

  test("reference time-of-day in CF units is honored") {
    import CfCalendar._
    // the classic ERA/CMIP patterns parse, time-of-day captured
    assert(parseUnits("days since 1850-01-01 12:00:00").refMicros ==
      43200000000L)
    assert(parseUnits("hours since 1900-01-01 00:00:0.0").refMicros == 0L)
    assert(parseUnits("seconds since 1970-01-01T00:00:00Z").refMicros == 0L)
    assert(parseUnits("seconds since 2000-01-01 06:30:15.25").refMicros ==
      (6 * 3600L + 30 * 60L + 15L) * 1000000L + 250000L)
    // UTC-equivalent zone markers pass, case-insensitively ("utc"
    // appears lowercased in real archives)
    assert(parseUnits("days since 2000-01-01 00:00:00 UTC").refMicros == 0L)
    assert(parseUnits("days since 2000-01-01 00:00:00 utc").refMicros == 0L)
    assert(parseUnits("seconds since 1970-01-01T00:00:00z").refMicros == 0L)
    // a NONZERO offset folds into the reference instant exactly as
    // cftime converts a tz-aware reference to UTC: the reference is
    // LOCAL to the offset, so UTC intra-day micros go negative here
    assert(parseUnits("days since 2000-01-01 00:00:00+05:30").refMicros ==
      -(5L * 3600L + 30L * 60L) * 1000000L)
    // udunits forms real archives carry: unsigned zero UTC offset
    // (CMIP/CORDEX "0:00"), hour-only reference times, unsigned
    // nonzero offsets (positive per udunits)
    assert(parseUnits("days since 1950-01-01 00:00:00 0:00").refMicros
      == 0L)
    assert(parseUnits("days since 2000-01-01 12").refMicros ==
      12L * 3600L * 1000000L)
    assert(parseUnits("days since 2000-01-01 00:00:00 5:00").refMicros ==
      -5L * 3600L * 1000000L)
    // non-UTC zone WORDS stay a loud reject (the old permissive
    // grammar decoded "PST" as if UTC — wrong by eight hours)
    intercept[IllegalArgumentException](
      parseUnits("days since 2000-01-01 00:00:00 PST"))
    // decode: offset 0 lands at the reference INSTANT, not midnight
    assert(offsetToMicros(0, "days since 1850-01-01 12:00:00", "standard") ==
      gregorianMicros(1850, 1, 1, hour = 12))
    assert(offsetToMicros(1, "days since 1850-01-01 12:00:00", "standard") ==
      gregorianMicros(1850, 1, 2, hour = 12))
    // midnight rollover happens in the dataset's OWN calendar: noleap
    // Feb 28 23:00 + 1h is Mar 1 (no Feb 29 in the calendar)
    assert(offsetToMicros(1, "hours since 2000-02-28 23:00:00", "noleap") ==
      gregorianMicros(2000, 3, 1))
    // encode (cftime()): exact when the time-of-day is whole steps...
    assert(CfCalendar.dateToOffset("2000-01-02",
      "hours since 2000-01-01 12:00:00", "standard") == 12L)
    // ...nearest-step (ties toward the date) when it is not: midnight
    // is half a day off a noon-referenced day grid, and the rounded
    // offset matches what filters always computed when the reference
    // time was ignored (warned, documented half-step boundary)
    assert(CfCalendar.dateToOffset("2000-01-02",
      "days since 2000-01-01 12:00:00", "standard") == 1L)
    // a reference 18:00 is PAST the half step: the nearest offset is
    // one lower (2000-01-02T18:00 ref grid: offset 0 = Jan 1 18:00,
    // offset 1 = Jan 2 18:00; midnight Jan 2 is nearer offset 0)
    assert(CfCalendar.dateToOffset("2000-01-02",
      "days since 2000-01-01 18:00:00", "standard") == 0L)
  }

  test("nonzero UTC offsets decode to cftime's instants") {
    import CfCalendar._
    // cftime.num2date(0, 'hours since 1980-01-01 00:00:00 +01:00')
    // == 1979-12-31 23:00:00 (reference converted to UTC)
    assert(offsetToMicros(0, "hours since 1980-01-01 00:00:00 +01:00",
      "standard") == gregorianMicros(1979, 12, 31, hour = 23))
    assert(offsetToMicros(2, "hours since 1980-01-01 00:00:00 +01:00",
      "standard") == gregorianMicros(1980, 1, 1, hour = 1))
    // cftime.num2date(0, 'hours since 1980-01-01 00:00:00 -06:00')
    // == 1980-01-01 06:00:00
    assert(offsetToMicros(0, "hours since 1980-01-01 00:00:00 -06:00",
      "standard") == gregorianMicros(1980, 1, 1, hour = 6))
    // the day borrow crosses midnight IN THE DATASET'S CALENDAR:
    // noleap Mar 1 minus 12h is Feb 28 12:00 (no Feb 29 to land on)
    assert(offsetToMicros(0, "days since 2000-03-01 00:00:00 +12:00",
      "noleap") == gregorianMicros(2000, 2, 28, hour = 12))
    // encode side: whole-step offsets stay exact — midnight Jan 2 is
    // 25 whole hours after 1979-12-31T23:00Z
    assert(dateToOffset("1980-01-02",
      "hours since 1980-01-01 00:00:00 +01:00", "standard") == 25L)
    assert(dateToOffset("1980-01-02",
      "hours since 1980-01-01 00:00:00 -06:00", "standard") == 18L)
  }

  test("gregorian micros epoch sanity") {
    assert(CfCalendar.gregorianMicros(1970, 1, 1) == 0L)
    assert(CfCalendar.gregorianMicros(2000, 1, 1) == 946684800000000L)
  }

  private def cal360Store: SyntheticGridStore = {
    // 12 monthly stamps in a 360-day calendar, days since 2000-01-01
    val time = LongCoords((0 until 12).map(m => m * 30L).toArray)
    SyntheticGridStore(
      GridSchema(
        Seq(DimDef("time", time, calendar = Some("360_day"),
          units = Some("days since 2000-01-01"))),
        Seq(VarDef("temp", Seq("time"), GDouble))),
      Map("temp" -> CfTimeSpec.MLaw()))
  }

  test("cftime UDF: non-Gregorian filter end-to-end with pruning") {
    val ctx = new XarrayContext(spark)
    ctx.fromDataset("cal360", cal360Store, Map("time" -> 6))
    // auto-registered cftime: second half of the year -> 6 of 12 rows
    val res = spark.sql(
      "SELECT time, temp FROM cal360 WHERE time >= cftime('2000-07-01')")
    assert(res.count() == 6L)
    // constant folding: the literal 180 reaches the plan, so zone-map
    // pruning skips the first chunk (months 0-5)
    ReadCounters.reset()
    res.collect()
    assert(ReadCounters.partitionsOpened.sum() == 1L)
    // the constant-folded literal (180) reached the scan: the plan
    // records 1-of-2 partitions surviving, which only zone-map pruning
    // on that folded value can produce
    val physical = res.queryExecution.executedPlan.toString
    assert(physical.contains("partitions=1/2"), physical)
  }

  test("cftime binds once per (units, calendar), re-binds on change") {
    val registry = spark.sessionState.functionRegistry
    val id = org.apache.spark.sql.catalyst.FunctionIdentifier("cftime")
    val ctx = new XarrayContext(spark)
    ctx.fromDataset("cal360_once", cal360Store, Map("time" -> 6))
    val first = registry.lookupFunctionBuilder(id).get
    // same binding: the registration is skipped (no replace, no WARN)
    ctx.fromDataset("cal360_twice", cal360Store, Map("time" -> 6))
    assert(registry.lookupFunctionBuilder(id).get eq first)
    def offset() = spark.sql("SELECT cftime('2000-07-01') AS o")
      .collect()(0).getLong(0)
    assert(offset() == 180L)
    // a different calendar re-binds: 2000 is a Julian leap year, so
    // 2000-07-01 is day 182 (Jan-Jun = 31+29+31+30+31+30)
    val julian = SyntheticGridStore(
      GridSchema(
        Seq(DimDef("time", LongCoords(Array(0L, 182L)),
          calendar = Some("julian"), units = Some("days since 2000-01-01"))),
        Seq(VarDef("temp", Seq("time"), GDouble))),
      Map("temp" -> CfTimeSpec.MLaw()))
    ctx.fromDataset("julian_once", julian, Map("time" -> 2))
    assert(!(registry.lookupFunctionBuilder(id).get eq first))
    assert(offset() == 182L)
    ctx.fromDataset("cal360_back", cal360Store, Map("time" -> 6))
    assert(offset() == 180L)
  }

  test("nonzero-offset units: decode + timestamp pruning end-to-end") {
    val ctx = new XarrayContext(spark)
    ctx.fromDataset("caloffset_t", graft.grid.Fixtures.cfOffsetGrid,
      Map("time" -> 24))
    // reference local +01:00 -> every stamp one hour EARLIER than the
    // naive read: the Jan-2 boundary falls at offset 25, so 71 of 96
    // hourly rows survive (x4 lats)
    val res = spark.sql(
      """SELECT time, temp FROM caloffset_t
        |WHERE time >= timestamp'2000-01-02 00:00:00'""".stripMargin)
    assert(res.count() == 71L * 4L)
    // chunk 0 (offsets 0-23 = through Jan 1 22:00 UTC) zone-map-prunes
    ReadCounters.reset()
    res.collect()
    assert(ReadCounters.partitionsOpened.sum() == 3L)
    assert(res.queryExecution.executedPlan.toString
      .contains("partitions=3/4"))
  }

  test("calendar metadata survives the pivot onto the Spark column") {
    val ctx = new XarrayContext(spark)
    ctx.fromDataset("cal360m", cal360Store, Map("time" -> 6))
    val f = spark.table("cal360m").schema("time")
    assert(f.metadata.getString("xarray:calendar") == "360_day")
    assert(f.metadata.getString("xarray:units") == "days since 2000-01-01")
  }
}

object CfTimeSpec {
  // top-level so partition serialization does not capture the suite
  final case class MLaw() extends GridFun {
    def apply(idx: Array[Int]): Double = 10.0 + idx(0)
  }
}
