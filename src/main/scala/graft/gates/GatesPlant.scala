package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.fitting.Fitting
import graft.functions.Met
import graft.operators._
import graft.GateHelpers._

/** Gate queries — OpenOA reference surface: met/QA/flags/timeseries/analyses.
  * Split from SparkEntry (r8); every entry follows the
  * determinism rules in SparkEntry's scaladoc and has a
  * DuckDB oracle twin in OraclesPlant.
  */
private[graft] object GatesPlant {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // distance/direction pair table analog (plant.py:1229-1258): tiny dim
    // self-cross-join, broadcast
    "q_cross_pairs" -> ((s, dir) => {
      val n = Tables.nation(s, dir)
      val a = n.select(col("n_nationkey").as("key_a"), col("n_name").as("name_a"),
        col("n_regionkey").as("region_a"))
      val b = n.select(col("n_nationkey").as("key_b"), col("n_name").as("name_b"),
        col("n_regionkey").as("region_b"))
      a.crossJoin(broadcast(b)).filter(col("key_a") < col("key_b"))
        .withColumn("region_dist", abs(col("region_a") - col("region_b")))
        .select("key_a", "key_b", "name_a", "name_b", "region_dist")
        .orderBy("key_a", "key_b")
    }),


    "q_resample_day_sum" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(epochS(date_trunc("day", col("ts"))).as("day_epoch"))
        .agg(dsum(col("value")).as("value_sum"), count(lit(1)).as("n_events"))
        .orderBy("day_epoch")
    }),


    "q_resample_hour_mean" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(epochS(date_trunc("hour", col("ts"))).as("hour_epoch"))
        .agg(davg(col("value")).as("value_avg"), count(lit(1)).as("n_events"))
        .orderBy("hour_epoch")
    }),


    // typical-period calendar profile (aep.py:394-412)
    "q_calendar_profile" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(hour(col("ts")).cast("long").as("hour_of_day"))
        .agg(davg(col("value")).as("value_avg"), count(lit(1)).as("n_events"))
        .orderBy("hour_of_day")
    }),


    // percent_nan analog (timeseries.py:228-241): flagged fraction per day
    "q_percent_flagged" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(epochS(date_trunc("day", col("ts"))).as("day_epoch"))
        .agg((dsum(when(col("value") > 15.0, 1.0).otherwise(0.0)) / count(lit(1)))
          .as("flagged_frac"))
        .orderBy("day_epoch")
    }),


    // num_hours per day (timeseries.py:245-275)
    "q_num_hours" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(epochS(date_trunc("day", col("ts"))).as("day_epoch"))
        .agg(countDistinct(date_trunc("hour", col("ts"))).as("num_hours"))
        .orderBy("day_epoch")
    }),


    // reference num_days/num_hours span semantics (timeseries.py:245-275)
    "q_num_days_span" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      Timeseries.numSpan(ev, "ts", "day").select(col("num_day").as("num_days"))
        .crossJoin(Timeseries.numSpan(ev, "ts", "hour")
          .select(col("num_hour").as("num_hours")))
    }),


    // ---- 2.6 gap detection (timeseries.py:145-170) -------------------------
    "q_gap_detect" -> ((s, dir) => {
      val ev = Tables.events(s, dir).withColumn("minute", date_trunc("minute", col("ts")))
      val span = ev.agg(min(col("minute")).as("mn"), max(col("minute")).as("mx"))
      val grid = span.select(explode(sequence(col("mn"), col("mx"),
        expr("INTERVAL 1 MINUTE"))).as("minute"))
      grid.join(ev.select("minute").distinct(), Seq("minute"), "left_anti")
        .select(epochS(col("minute")).as("minute_epoch"))
        .orderBy("minute_epoch")
    }),


    // duplicate detection (timeseries.py:174-190 analog on lineitem)
    "q_dup_keys" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy("l_orderkey").agg(count(lit(1)).as("n_lines"))
        .filter(col("n_lines") > 1)
        .orderBy("l_orderkey")
    }),


    // frequency inference: mode of consecutive deltas (timeseries.py:35-79).
    // Bucket-partitioned diff computation — no global fact-grain window.
    "q_freq_infer" -> ((s, dir) => {
      Timeseries.inferFrequencySeconds(Tables.events(s, dir), "ts",
        bucketSeconds = 86400L)
    }),


    // unresponsive-sensor flag (filters.py:67-109)
    "q_unresponsive" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("vi", round(col("value"), 0).cast("long"))
      Flags.unresponsiveFlag(ev, "vi", "ts", threshold = 3,
          partitionCols = Seq("user_id"), tieBreakCols = Seq("event_id"))
        .select("event_id", "flag")
        .orderBy("event_id")
    }),


    // forward-fill (wake_losses.py:1050 pattern)
    "q_ffill" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("v", when(col("event_type") === "error", lit(null)).otherwise(col("value")))
      Timeseries.forwardFill(ev, "v", "ts", Seq("user_id"),
          tieBreakCols = Seq("event_id"))
        .select(col("event_id"), col("v").as("filled"))
        .orderBy("event_id")
    }),


    // ---- 2.2 flag operators ------------------------------------------------
    "q_range_flag" -> ((s, dir) => {
      Tables.events(s, dir)
        .withColumn("flag", Flags.rangeFlag(col("value"), 2.0, 18.0))
        .select("event_id", "flag")
        .orderBy("event_id")
    }),


    "q_window_range_flag" -> ((s, dir) => {
      Tables.events(s, dir)
        .withColumn("flag", Flags.windowRangeFlag(
          hour(col("ts")).cast("double"), 8.0, 17.0, col("value"), 0.5, 18.0))
        .select("event_id", "flag")
        .orderBy("event_id")
    }),


    "q_std_range_flag" -> ((s, dir) => {
      Flags.stdRangeFlag(Tables.events(s, dir), "value", threshold = 2.0)
        .select("event_id", "flag")
        .orderBy("event_id")
    }),


    // Explicit bin bounds: the r2->r3 regression (1.07->1.65s) was the
    // digitize semantics' data-dependent-edges bounds pass, a third full
    // scan (A/B at sf0.1 warm: auto-bounds 1.70s, explicit 1.08s, r2 floor
    // 0.99s). Production calls on physical quantities know their range —
    // the reference's bin_filter takes the same bounds — and [1, 50] IS
    // l_quantity's exact min/max, so results and oracle are unchanged.
    // The auto-bounds path stays spec-covered (FlagsSpec).
    "q_bin_filter" -> ((s, dir) => {
      Flags.binFilter(Tables.lineitem(s, dir), "l_quantity", "l_extendedprice",
          binWidth = 5.0, threshold = 2.0, centerType = "mean",
          deviationType = "std", direction = "above",
          binMin = Some(1.0), binMax = Some(50.0))
        .select("l_orderkey", "l_linenumber", "flag")
        .orderBy("l_orderkey", "l_linenumber")
    }),


    // KMeans+Mahalanobis (filters.py:290-343) — no SQL oracle (rows-only)
    // Planted-truth oracle gate (r7, formerly rows-only): four clusters at
    // (0/200, 0/200) with spread <10, outliers (event_id%101==0) pushed +80
    // in x — ~27 sigma out, so kmeans recovers the planted partition
    // regardless of init and the Mahalanobis flag EQUALS the planting rule.
    // DuckDB reproduces the planting rule, not the kmeans (filters.py:290-343).
    "q_mahalanobis" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("x",
          when(col("user_id") % 2 === 1, 200.0).otherwise(0.0)
            + pmod(col("value"), lit(10.0))
            + when(col("event_id") % 101 === 0, 80.0).otherwise(0.0))
        .withColumn("y",
          when(col("user_id") % 4 >= 2, 200.0).otherwise(0.0)
            + (col("event_id") % 17).cast("double") / 2.0)
      Flags.clusterMahalanobis2d(ev, "x", "y", nClusters = 4)
        .select("event_id", "flag")
        .orderBy("event_id")
    }),


    // ---- 2.7 met-science scalar expressions --------------------------------
    "q_met_columns" -> ((s, dir) => {
      val u = col("value") - 10.0
      val v = (col("user_id") % 7).cast("double") - 3.0
      Tables.events(s, dir)
        .withColumn("ws", round(Met.windSpeed(u, v), 6))
        .withColumn("wd", round(Met.windDirection(u, v), 6))
        .withColumn("wrapped", round(Met.wrap180(col("value") * 37.0), 6))
        .select("event_id", "ws", "wd", "wrapped")
        .orderBy("event_id")
    }),


    "q_air_density" -> ((s, dir) => {
      val tempK = lit(288.15) + col("value") / 10.0
      val presPa = lit(101325.0) - col("user_id") * 10.0
      Tables.events(s, dir)
        .withColumn("rho", round(Met.airDensity(tempK, presPa), 6))
        .select("event_id", "rho")
        .orderBy("event_id")
    }),


    // unit conversions: all four gross-energy loss-mode combinations +
    // power->energy (unit_conversion.py:14-106)
    "q_gross_energy" -> ((s, dir) => {
      import graft.functions.UnitConversion
      val avail = (col("user_id") % 10).cast("double") / 100.0
      val curt = lit(0.02)
      Tables.events(s, dir).select(col("event_id"),
        round(UnitConversion.grossEnergy(col("value"), avail, curt, "frac", "frac"), 6).as("gross_ff"),
        round(UnitConversion.grossEnergy(col("value"), avail, curt, "energy", "frac"), 6).as("gross_ef"),
        round(UnitConversion.grossEnergy(col("value"), avail, curt, "frac", "energy"), 6).as("gross_fe"),
        round(UnitConversion.grossEnergy(col("value"), avail, curt, "energy", "energy"), 6).as("gross_ee"),
        round(UnitConversion.powerToEnergy(col("value"), 600L), 6).as("energy_kwh"))
        .orderBy("event_id")
    }),


    // MonteCarloAEP.aggregate() — the analysis' deterministic distributed
    // stage (monthly energy/avail/curt + density-corrected per-product wind
    // speed + the partial first/last-period trim), oracle-gated over an
    // events-derived plant. The 12-month user_id spread gives the monthly
    // path real data; day-of-month is capped at 28 so the month arithmetic
    // never hits end-of-month clamping (every month is then "partial",
    // which exercises the trim: first + last month drop).
    "q_aep_monthly" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
        .filter(dayofmonth(col("ts")) <= 28)
        .withColumn("t",
          expr("ts + make_interval(0, CAST(user_id % 12 AS INT), 0, 0, 0, 0, 0)"))
      // integer-valued Wh (round to whole units): double sums of integers
      // are EXACT in any accumulation order — DuckDB's parallel sum is
      // order-nondeterministic run to run, so summing raw products would
      // flake whenever a monthly total lands near a rounding boundary
      val meter = ev.select(col("t").as("time"),
        round(col("value") * 1000).as("MMTR_SupWh"))
      val curtail = ev.select(col("t").as("time"),
        round(col("value") * 50).as("IAVL_DnWh"),
        round(col("value") * 20).as("IAVL_ExtPwrDnWh"))
      val rea = ev.select(col("t").as("time"),
        (lit(4.0) + (col("event_id") % 100).cast("double") / 10.0).as("WMETR_HorWdSpd"),
        (lit(1.15) + (col("user_id") % 20).cast("double") / 200.0).as("WMETR_AirDen"))
      val plant = graft.plant.PlantData(meter = Some(meter),
        curtail = Some(curtail), reanalysis = Map("era5" -> rea))
      val aep = new graft.analysis.MonteCarloAEP(plant, timeResolution = "MS")
      aep.aggregate()
        .map(r => (r.epochSec, r.energyGwh, r.availGwh, r.curtGwh, r.grossGwh,
          r.availPct, r.curtPct, r.numDays, r.ws("era5"), r.nanFlag))
        .toDF("period_epoch", "energy_gwh", "avail_gwh", "curt_gwh",
          "gross_gwh", "avail_pct", "curt_pct", "num_days", "ws_era5", "nan_flag")
        .select(col("period_epoch"), round(col("energy_gwh"), 6).as("energy_gwh"),
          round(col("avail_gwh"), 6).as("avail_gwh"),
          round(col("curt_gwh"), 6).as("curt_gwh"),
          round(col("gross_gwh"), 6).as("gross_gwh"),
          round(col("avail_pct"), 6).as("avail_pct"),
          round(col("curt_pct"), 6).as("curt_pct"),
          col("num_days"), round(col("ws_era5"), 6).as("ws_era5"), col("nan_flag"))
        .orderBy("period_epoch")
    }),


    // Local->UTC conversion across BOTH 2024 US DST transitions: synthetic
    // naive timestamps spanning 00:00-04:00 of the spring-forward and
    // fall-back days. Nonexistent spring times shift by the gap in both
    // engines; the ambiguous fall-back hour is EXCLUDED deterministically
    // (java.time resolves it to the earlier offset, DuckDB/ICU to the
    // later — that path is pinned by the refvector spec instead).
    "q_tz_convert" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val secs = (col("event_id") % 14400).cast("int")
      val base = when(col("event_id") % 2 === 0,
        lit("2024-03-10 00:00:00")).otherwise(lit("2024-11-03 00:00:00"))
      val tloc = to_timestamp(base) + expr("INTERVAL '1' SECOND") * secs
      ev.filter(!(col("event_id") % 2 === 1 && secs.between(3600, 7199)))
        .select(col("event_id"),
          epochS(Timeseries.localToUtc(tloc, "America/New_York")).as("utc_epoch"))
        .orderBy("event_id")
    }),


    // impute_all_assets_by_correlation over five exactly-linearly-related
    // hourly asset series (v_k = base*(1+k/10) + 1000k) with nulls planted
    // at (hour_index + k) % 19 == 0. Exact linearity makes the oracle
    // independent of which ranked neighbor fills: every per-pair fit
    // recovers the true value to ~1e-10 relative, and true values carry
    // <= 1 decimal, so round(2) is engine-stable by a 500x margin.
    "q_impute_corr" -> ((s, dir) => {
      val hourly = Tables.events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(sum(round(col("value") * 100)).as("base"))
      val series = hourly
        .select(col("h"), col("base"), explode(sequence(lit(0), lit(4))).as("k"))
        .withColumn("asset", concat(lit("A"), col("k")))
        .withColumn("v",
          when(((unix_timestamp(col("h")) / 3600).cast("long") + col("k")) % 19 === 0,
            lit(null).cast("double"))
          .otherwise(col("base") * (lit(1.0) + col("k") / 10.0) + col("k") * 1000))
        .select("h", "asset", "v")
      Imputing.imputeAllByCorrelation(series, "h", "asset", "v",
          minR2 = 0.7, topM = 3)
        .select(epochS(col("h")).as("h_epoch"), col("asset"),
          round(col("v_imputed"), 2).as("v_imputed"))
        .orderBy("h_epoch", "asset")
    }),


    // QA determine_offset_dst: UTC-offset + DST flag from already-UTC
    // stamps spread across the whole year (UTC->local is never ambiguous,
    // so both engines agree everywhere, transitions included).
    "q_offset_dst" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(dayofmonth(col("ts")) <= 28)
        .withColumn("utc",
          expr("ts + make_interval(0, CAST(event_id % 12 AS INT), 0, 0, 0, 0, 0)"))
      QaDatetime.determineOffsetDst(
          ev.select(col("event_id"), col("utc")), "utc", "America/New_York")
        .select(col("event_id"), col("utc_offset_hours"), col("is_dst"))
        .orderBy("event_id")
    }),


    // QA describe (qa.py:252-264): transposed per-column summary stats.
    "q_qa_describe" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("value"),
        (col("value") * 3.0 - col("user_id")).as("mix"),
        col("user_id").cast("double").as("uid"))
      QaDatetime.describe(ev, Seq("value", "mix", "uid"))
        .select(col("column"), col("n"),
          round(col("mean"), 6).as("mean"), round(col("std"), 6).as("std"),
          round(col("min"), 6).as("min"), round(col("p25"), 6).as("p25"),
          round(col("p50"), 6).as("p50"), round(col("p75"), 6).as("p75"),
          round(col("max"), 6).as("max"))
        .orderBy("column")
    }),


    // daylight_savings_plot's deterministic data-prep (qa.py:267-463):
    // per-year DST transition windows over an hourly UTC series spread
    // across 12 months (planted duplicate stamps at hour 6) — window rows
    // with season labels, localized twins, and duplicate counts.
    "q_dst_windows" -> ((s, dir) => {
      val hours = Tables.events(s, dir)
        .filter(dayofmonth(col("ts")) <= 28)
        .select(date_trunc("hour",
          expr("ts + make_interval(0, CAST(event_id % 12 AS INT), 0, 0, 0, 0, 0)"))
          .as("utc"))
        .distinct()
      val withDups = hours.union(hours.filter(hour(col("utc")) === 6))
        .withColumn("power",
          (hour(col("utc")) * 100 + dayofmonth(col("utc"))).cast("long"))
      QaDatetime.dstWindows(withDups, "utc", "America/New_York")
        .select(col("year"), col("season"), epochS(col("utc")).as("utc_epoch"),
          epochS(col("utc_localized")).as("local_epoch"), col("power"),
          col("is_dst"), col("utc_offset_hours"), col("n_dups"))
        .orderBy("utc_epoch", "year")
    }),


    // Linear interpolation between surviving points (x = event time),
    // bfill/ffill at partition edges — the imputation primitive, oracle-
    // gated with planted nulls (every 37th event id). round(4): the
    // engines' interp doubles differ by ~1 ulp and at 6 decimals one row
    // sits exactly on the half boundary; at 4 the nearest boundary is 4
    // orders of magnitude away from ulp noise (measured at both SFs).
    "q_interp_linear" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("v", when(col("event_id") % 37 === 0, lit(null).cast("double"))
          .otherwise(col("value")))
        .withColumn("x", unix_micros(col("ts")).cast("double"))
      Timeseries.interpolateLinear(ev, "v", "x", orderCol = "ts",
          partitionCols = Seq("event_type"),
          tieBreakCols = Seq("event_id")) // replicated data has tied ts
        .select(col("event_id"), round(col("v"), 4).as("v"))
        .orderBy("event_id")
    }),


    // IEC 61400-12 binned power curve (left-edge bins, linear interp of
    // empty interior bins, nearest at the edges) over an events-derived
    // (ws, power) table — the driver-side curve re-emitted as rows.
    "q_iec_curve" -> ((s, dir) => {
      import s.implicits._
      // integer-valued power: bin means become exact-integer sums / count,
      // immune to DuckDB's order-nondeterministic parallel double sum
      val wsPower = Tables.events(s, dir)
        .select((col("value") / 20.0).as("ws"), round(col("value") * 3.0).as("power"))
      val c = graft.powercurve.PowerCurve.iec(wsPower, "ws", "power",
        binWidth = 0.5, windspeedStart = 0.0, windspeedEnd = 30.0)
      c.values.zipWithIndex.map { case (p, b) => (b.toLong, p) }.toSeq
        .toDF("bin", "p")
        .select(col("bin"), round(col("p"), 6).as("p"))
        .orderBy("bin")
    }),


    // ElectricalLosses' daily concurrent stage (scadaDaily x meterDaily
    // inner join on fully-reporting meter days), oracle-gated: hourly
    // (slot, turbine)-grain scada and hourly meter derived from events.
    "q_elec_daily" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
      val slot = date_trunc("hour", col("ts"))
      // integer-valued Wh per row (exact sums in any accumulation order —
      // see q_aep_monthly: DuckDB's parallel double sum is
      // order-nondeterministic, so raw-product sums flake at boundaries)
      val scada = ev.groupBy(slot.as("time"),
          concat(lit("T"), col("user_id") % 2).as("asset_id"))
        .agg(sum(round(col("value") * 100)).as("WTUR_SupWh"))
      val meter = ev.groupBy(slot.as("time"))
        .agg(sum(round(col("value") * 95)).as("MMTR_SupWh"))
      val asset = Seq(("T0", "turbine"), ("T1", "turbine")).toDF("asset_id", "type")
      val plant = graft.plant.PlantData(scada = Some(scada), meter = Some(meter),
        asset = Some(asset),
        metadata = graft.plant.PlantMetadata(scadaFreqSeconds = 3600L,
          meterFreqSeconds = 3600L))
      val el = new graft.analysis.ElectricalLosses(plant)
      el.scadaDaily
        .join(el.meterDaily.select(col("day"), col("MMTR_SupWh")), Seq("day"))
        .select(epochS(col("day")).as("day_epoch"),
          round(col("WTUR_SupWh"), 2).as("turbine_wh"),
          col("count").cast("long").as("scada_count"),
          round(col("corrected_energy"), 2).as("corrected_wh"),
          round(col("percent"), 6).as("scada_pct"),
          round(col("MMTR_SupWh"), 2).as("meter_wh"))
        .orderBy("day_epoch")
    }),


    // WakeLosses' deterministic POR stage (wake_losses.py:653-731 via
    // timestampAggregate): per-timestamp plant power + freestream mean
    // power/ws (2 turbines, equator E-W layout so bearings are exactly
    // 90/270 and the waked wd-bin ranges are closed-form), rolled up per
    // wd bin. Integer power + dyadic ws/wd (multiples of 1/4, wd at bin
    // midpoints) keep every engine-side sum exact in any accumulation
    // order; the per-time circular mean runs over two IDENTICAL wd values,
    // so wd_bin is ulp-safe (2.5 deg from any bin boundary).
    "q_wake_por" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
      val scada0 = ev.groupBy(date_trunc("hour", col("ts")).as("time"),
          concat(lit("T"), col("user_id") % 2).as("asset_id"))
        .agg(sum(round(col("value") * 100)).as("WTUR_W"))
      val h = (unix_timestamp(col("time")) / 3600).cast("long")
      val scada = scada0
        .withColumn("WMET_HorWdSpd",
          ((h + when(col("asset_id") === "T1", 1).otherwise(0)) % 100)
            .cast("double") / 4.0)
        .withColumn("WMET_HorWdDir", ((h % 71) * 5).cast("double") + 2.5)
      val asset = Seq(("T0", "turbine", 0.0, 0.0, 3000.0),
          ("T1", "turbine", 0.0, 0.01, 3000.0))
        .toDF("asset_id", "type", "latitude", "longitude", "rated_power")
      val plant = graft.plant.PlantData(scada = Some(scada), asset = Some(asset))
      val wl = new graft.analysis.WakeLosses(plant)
      wl.timestampAggregate(scada, sectorWidth = 90.0, nTurbines = 2)
        .groupBy(col("wd_bin"))
        .agg(count(lit(1)).as("n_times"),
          sum(col("plant_power")).as("actual"),
          sum(col("freestream_power") * 2).as("potential"),
          avg(col("freestream_ws")).as("fs_ws"))
        .select(col("wd_bin"), col("n_times"),
          round(col("actual"), 2).as("actual_w"),
          round(col("potential"), 2).as("potential_w"),
          round(lit(1.0) - col("actual") / col("potential"), 6).as("por_loss"),
          round(col("fs_ws"), 6).as("fs_ws"))
        .orderBy("wd_bin")
    }),


    // WakeLosses' long-term (wd, ws) wind-rose frequency table
    // (wake_losses.py:1150-1174) — counts per bin + normalized fraction.
    "q_wake_freq" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val rea2 = ev.select(col("ts").as("time"),
        (((col("event_id") % 288) * 10).cast("double") / 8.0).as("WMETR_HorWdDir"),
        ((col("event_id") % 200).cast("double") / 8.0).as("WMETR_HorWdSpd"))
      val plant = graft.plant.PlantData(reanalysis = Map("era5" -> rea2))
      val wl = new graft.analysis.WakeLosses(plant)
      val freq = wl.longTermFrequency("era5", years = 30)
      val total = freq.agg(sum(col("freq"))).head().getLong(0)
      freq.select(col("wd_bin"), col("ws_bin"), col("freq"),
          round(col("freq") / total.toDouble, 9).as("freq_frac"))
        .orderBy("wd_bin", "ws_bin")
    }),


    // TIE's daily valid-energy stage (turbine_long_term_gross_energy.py
    // :440-501): per-turbine daily energy sums with expected-count
    // availability correction and the >= 90%-reporting day filter, joined
    // to the daily reanalysis covariates (mean ws/u/v/rho + vector wd).
    // Flags planted by (hour + turbine) % 17; all measures integer/dyadic.
    "q_tie_daily" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
      val h = (unix_timestamp(col("time")) / 3600).cast("long")
      val scada = ev.groupBy(date_trunc("hour", col("ts")).as("time"),
          concat(lit("T"), col("user_id") % 2).as("asset_id"))
        .agg(sum(round(col("value") * 100)).as("WTUR_SupWh"))
        .withColumn("flag_final",
          ((h + when(col("asset_id") === "T1", 1).otherwise(0)) % 17) === 0)
      val rea = ev.select(date_trunc("hour", col("ts")).as("time")).distinct()
        .withColumn("WMETR_HorWdSpd", (h % 160).cast("double") / 8.0)
        .withColumn("WMETR_HorWdSpdU", ((h % 64) - 32).cast("double") / 4.0)
        .withColumn("WMETR_HorWdSpdV",
          (((h * 7 + 11) % 64) - 32).cast("double") / 4.0)
        .withColumn("WMETR_AirDen", lit(1.0) + (h % 64).cast("double") / 256.0)
      val asset = Seq(("T0", "turbine", 2000.0), ("T1", "turbine", 2000.0))
        .toDF("asset_id", "type", "rated_power")
      val plant = graft.plant.PlantData(scada = Some(scada), asset = Some(asset),
        reanalysis = Map("era5" -> rea),
        metadata = graft.plant.PlantMetadata(scadaFreqSeconds = 3600L))
      val tie = new graft.analysis.TurbineLongTermGrossEnergy(plant)
      tie.dailyValid(scada, correctionThresholdValue = 0.9)
        .join(tie.dailyReanalysis("era5").withColumnRenamed("n", "n_rea"),
          Seq("day"))
        .select(col("asset_id"), epochS(col("day")).as("day_epoch"),
          round(col("energy_kwh"), 2).as("energy_wh"), col("n"),
          round(col("energy_corrected"), 4).as("energy_corrected"),
          round(col("ws"), 6).as("ws"), round(col("wd"), 4).as("wd"),
          round(col("rho"), 6).as("rho"), col("n_rea"))
        .orderBy("asset_id", "day_epoch")
    }),


    // StaticYawMisalignment's cosine-fit INPUT stage (yaw_misalignment.py
    // :545-563 via vaneBins): pitch filter, median/MAD power-bin outlier
    // removal, target ws-bin slice, per-vane-bin power/vane means. Rated
    // power 2048 (a power of two) keeps p_frac dyadic; integer power and
    // 1/8-degree vane/ws keep sums and exact medians engine-identical.
    "q_yaw_vane_bins" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
      val scada = ev.select(
        col("ts").as("time"),
        concat(lit("T"), col("user_id") % 2).as("asset_id"),
        (round((col("value") * 193) % 1900) + 30).as("WTUR_W"),
        (lit(4.0) + (col("event_id") % 44).cast("double") / 8.0).as("WMET_HorWdSpd"),
        ((col("event_id") % 240) - 120).cast("double") / 8.0 as "WMET_HorWdDirRel",
        (col("event_id") % 5).cast("double") * 0.25 as "WROT_BlPthAngVal")
      val asset = Seq(("T0", "turbine", 2048.0), ("T1", "turbine", 2048.0))
        .toDF("asset_id", "type", "rated_power")
      val plant = graft.plant.PlantData(scada = Some(scada), asset = Some(asset))
      // Gate outputs are the DYADIC sums, not round(avg, 6): avg = S/n is
      // not dyadic even when S is, and round-at-6 of a straddling quotient
      // diverges between engines (the q_interp_linear failure class, SURVEY
      // §6). Integer power -> perf_sum is an exact long; 1/8-degree vane ->
      // vane_sum * 8 is an exact long. The means are recoverable as sum/n.
      // Bin centers are integers by construction -> cast to LONG on both
      // sides: DuckDB's round() emits -0.0 for vane in (-0.5, 0) where
      // Spark emits +0.0; values compare equal but the driver hashes float
      // BIT PATTERNS, so a DOUBLE bin column can never hash-match (SURVEY
      // §6 signed-zero lesson, r6 verdict).
      new graft.analysis.StaticYawMisalignment(plant).vaneBins()
        .select(col("asset_id"),
          col("ws_bin_center").cast("long").as("ws_bin_center"),
          col("vane_bin").cast("long").as("vane_bin"),
          col("perf_sum").cast("long").as("perf_sum"), col("n"),
          round(col("vane_sum") * 8).cast("long").as("vane_sum_8"))
        .orderBy("asset_id", "ws_bin_center", "vane_bin")
    }),


    // EYA gap-analysis waterfall (eya_gap_analysis.py:83-229): the five
    // reconciliation terms from events-derived EYA/OA scalars (exact
    // integer sums -> identical doubles; the arithmetic order in the
    // oracle mirrors compile()'s left-association).
    "q_eya_waterfall" -> ((s, dir) => {
      import s.implicits._
      val r = Tables.events(s, dir).agg(
        sum(round(col("value") * 100)).as("s1"),
        sum(round(col("value") * 37)).as("s2"),
        sum(col("user_id") % 97).as("s3"),
        count(lit(1)).as("n")).head()
      val s1 = r.getDouble(0); val s2 = r.getDouble(1)
      val s3 = r.getLong(2).toDouble; val n = r.getLong(3).toDouble
      val gap = new graft.analysis.EYAGapAnalysis(
        eyaAep = s1 / 1e7, eyaGross = s1 / 1e7 * 1.3,
        eyaAvailLoss = (s3 / n) / 400.0, eyaElecLoss = (s3 / n) / 800.0,
        eyaTurbineLoss = 0.037, eyaWakeLoss = (s3 / n) / 1000.0,
        eyaBladeDegLoss = 0.011,
        oaAep = s2 / 1e7 * 2.5, oaAvailLoss = (s3 / n) / 500.0,
        oaElecLoss = (s3 / n) / 900.0, oaTurbineIdeal = s2 / 1e7 * 3.0)
      val terms = Seq("eya_aep", "turb_gross_diff", "avail_diff",
        "elec_diff", "unexplained")
      gap.compile().zipWithIndex
        .map { case (v, i) => (i.toLong, terms(i), v) }
        .toDF("idx", "term", "value")
        .select(col("idx"), col("term"), round(col("value"), 6).as("value"))
        .orderBy("idx")
    }),


    "q_circular_mean" -> ((s, dir) => {
      Tables.events(s, dir)
        .withColumn("angle", (col("value") * 36.0) % 360.0)
        .groupBy("event_type")
        .agg(round(Met.circularMeanAgg(col("angle")), 6).as("circ_mean"),
          count(lit(1)).as("n"))
        .orderBy("event_type")
    }),


    "q_shear_alpha" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val alpha = Met.shearAlpha(Seq(
        (col("l_quantity") + 1.0, 10.0),
        (col("l_quantity") * 1.1 + 2.0, 50.0),
        (col("l_quantity") * 1.2 + 3.0, 80.0)))
      li.withColumn("alpha", round(alpha, 6))
        .select("l_orderkey", "l_linenumber", "alpha")
        .orderBy("l_orderkey", "l_linenumber")
    }),


    // ---- 2.8 regression (closed-form OLS via aggregates, aep.py:920) -------
    "q_linreg" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .agg(
          round(Fitting.slopeExpr(col("l_quantity"), col("l_extendedprice")), 6).as("slope"),
          round(Fitting.interceptExpr(col("l_quantity"), col("l_extendedprice")), 6).as("intercept"),
          count(lit(1)).as("n"))
    }),


    // per-group closed-form OLS (per-turbine degradation fits at scale):
    // the same covar/var aggregate expressions, grouped — the fit stays IN
    // the plan, one shuffle at group grain, never a per-group driver loop
    "q_group_linreg" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          round(Fitting.slopeExpr(col("l_quantity"), col("l_extendedprice")), 6).as("slope"),
          round(Fitting.interceptExpr(col("l_quantity"), col("l_extendedprice")), 6).as("intercept"),
          round(pow(corr(col("l_quantity"), col("l_extendedprice")), 2), 6).as("r2"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    }),


    // asset-correlation analog (imputing.py:13-31): pivot series + pairwise corr
    "q_corr_matrix" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      def seriesAvg(t: String) =
        (sum(when(col("event_type") === t, col("value")).cast(Dec)).cast("double")
          / count(when(col("event_type") === t, lit(1)))).as(t)
      val m = ev.groupBy(epochS(date_trunc("minute", col("ts"))).as("minute"))
        .agg(seriesAvg("click"), seriesAvg("view"), seriesAvg("purchase"))
      m.agg(
        round(corr(col("click"), col("view")), 6).as("corr_click_view"),
        round(corr(col("click"), col("purchase")), 6).as("corr_click_purchase"),
        round(corr(col("view"), col("purchase")), 6).as("corr_view_purchase"))
    }),


    // imputation (imputing.py:34-131): fill gaps in one series from another
    "q_impute" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val minutes = ev.select(date_trunc("minute", col("ts")).as("minute")).distinct()
      def seriesOf(t: String, name: String) =
        ev.filter(col("event_type") === t)
          .groupBy(date_trunc("minute", col("ts")).as("minute"))
          .agg(davg(col("value")).as(name))
      val target = minutes.join(seriesOf("view", "target_val"), Seq("minute"), "left")
      val ref = seriesOf("click", "ref_val")
      Imputing.imputeData(target, ref, "minute", "target_val", "ref_val")
        .select(epochS(col("minute")).as("minute_epoch"),
          round(col("imputed"), 6).as("imputed"))
        .orderBy("minute_epoch")
    }),


    "q_status_filter" -> ((s, dir) => {
      // status-bucket consumer (StatusOps): signup/error events are the
      // changepoint stream; view rows during an active "error" status drop
      val ev = Tables.events(s, dir)
      val facts = ev.filter(col("event_type") === "view")
        .select("event_id", "user_id", "ts", "value")
      val status = ev.filter(col("event_type").isin("signup", "error"))
        .select(col("user_id"), col("ts"), col("event_type").as("status_code"))
      StatusOps.filterByStatus(facts, status, Seq("error"),
          keyCol = "user_id", tsCol = "ts")
        .select(col("event_id"), col("user_id"), col("value"))
        .orderBy("event_id")
    }),

  )
}
