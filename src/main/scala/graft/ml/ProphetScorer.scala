package graft.ml

import java.time.LocalDate
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Prophet forecast scoring (SURVEY §2.9 M1) — the reference's
  * `model.predict(make_future_dataframe(days))`
  * (`/root/reference/function-app/ml_forecast_anomaly.py:133-138`)
  * computed closed-form from the serialized model parameters
  * (`prophet_model.json`: linear growth, additive weekly seasonality
  * fourier_order 3, trained on 151 daily totals 2023-01-01→2023-05-31).
  *
  * Predictive mean (exact, matches prophet 1.1.7 in double precision):
  *   t        = (epoch_sec(ds) − start) / t_scale
  *   trend(t) = (k + Σ_{cp≤t} δ_cp)·t + (m + Σ_{cp≤t} −cp·δ_cp)
  *   X(ds)    = [sin(2πn·d/7), cos(2πn·d/7)]_{n=1..3},  d = days since epoch
  *   yhat     = y_scale · (trend(t) + X(ds)·β)
  * Validated in-repo against the artifact's own embedded fitted trend.
  *
  * Intervals: Prophet's MAP Monte-Carlo (1000 paths; future changepoints
  * ~ Poisson over the horizon, new deltas ~ Laplace(0, mean|δ|),
  * observation noise ~ N(0, σ_obs)), then the 10/90 percentiles for
  * interval_width 0.8. DOCUMENTED DIVERGENCE: Prophet draws from an
  * unseeded numpy RNG (its intervals differ run to run); we draw every
  * variate from a PORTABLE hash of (seed, sample, draw index) — the
  * q60/q160 portable-hash discipline — via inverse transforms
  * (Poisson CDF table, Laplace quantile, Box–Muller), so the whole
  * interval computation is a pure function of the model constants that
  * any engine replays bit-for-bit: the q29 gate's DuckDB oracle
  * ([[mcOracleSql]]) re-derives every draw, path and percentile
  * relationally. Same distributions as Prophet, different (and
  * engine-independent) randomness.
  *
  * Parity note L-1 (SURVEY §3 EP3b): the reference's forecast output is
  * independent of any HomeID filter — the pre-trained global model
  * forecasts from its own embedded history. `forecast(days, homeId)`
  * reproduces that: homeId is accepted and ignored.
  */
object ProphetScorer {

  final case class Model(k: Double, m: Double, delta: Array[Double],
                         beta: Array[Double], changepointsT: Array[Double],
                         sigmaObs: Double, yScale: Double, start: Double,
                         tScale: Double, intervalWidth: Double,
                         uncertaintySamples: Int, period: Double,
                         fourierOrder: Int, historyEnd: LocalDate) {

    def trendScaled(t: Double): Double = {
      var kT = k
      var mT = m
      var i = 0
      while (i < changepointsT.length && changepointsT(i) <= t) {
        kT += delta(i)
        mT -= changepointsT(i) * delta(i)
        i += 1
      }
      kT * t + mT
    }

    def seasonalScaled(daysSinceEpoch: Double): Double = {
      var s = 0.0
      var n = 1
      while (n <= fourierOrder) {
        val ang = 2.0 * math.Pi * n * daysSinceEpoch / period
        s += beta(2 * (n - 1)) * math.sin(ang) + beta(2 * (n - 1) + 1) * math.cos(ang)
        n += 1
      }
      s
    }

    def yhat(epochSec: Double): Double =
      yScale * (trendScaled((epochSec - start) / tScale) + seasonalScaled(epochSec / 86400.0))
  }

  lazy val bundled: Model = {
    val in = getClass.getResourceAsStream("/prophet_model.json")
    require(in != null, "prophet_model.json missing from resources")
    try parse(new ObjectMapper().readTree(in)) finally in.close()
  }

  def parse(root: JsonNode): Model = {
    def doubles(n: JsonNode): Array[Double] = {
      val a = new Array[Double](n.size); var i = 0
      while (i < a.length) { a(i) = n.get(i).asDouble; i += 1 }; a
    }
    val params = root.get("params")
    val seas = root.get("seasonalities").get(1).get("weekly")
    val histDates = new ObjectMapper().readTree(root.get("history_dates").asText)
    val lastDs = histDates.get("data").get(histDates.get("data").size - 1).asText
    Model(
      k = params.get("k").get(0).get(0).asDouble,
      m = params.get("m").get(0).get(0).asDouble,
      delta = doubles(params.get("delta").get(0)),
      beta = doubles(params.get("beta").get(0)),
      changepointsT = doubles(root.get("changepoints_t")),
      sigmaObs = params.get("sigma_obs").get(0).get(0).asDouble,
      yScale = root.get("y_scale").asDouble,
      start = root.get("start").asDouble,
      tScale = root.get("t_scale").asDouble,
      intervalWidth = root.get("interval_width").asDouble,
      uncertaintySamples = root.get("uncertainty_samples").asInt,
      period = seas.get("period").asDouble,
      fourierOrder = seas.get("fourier_order").asInt,
      historyEnd = LocalDate.parse(lastDs.take(10)))
  }

  /** Closed-form yhat as a pure `Column` expression built from the
    * model's LITERAL parameters — whole-stage-codegen'd, no UDF, no
    * broadcast. `d` = days since 1970-01-01 (integer-derived via
    * `datediff`, so timezone-free, unlike an epoch from a timestamp
    * cast). Every term reproduces `Model.yhat`'s sequential
    * accumulation order bit-for-bit (the fold adds 0.0 for skipped
    * changepoints, and `a - b` == `a + (-(b))` in IEEE), which
    * `MlScorerSpec` asserts exactly; `yhatSqlExpr` mirrors it
    * term-for-term for the DuckDB oracle (q88), where the only
    * cross-engine divergence is sin/cos ulp, absorbed by the final
    * round.
    */
  def yhatColumn(m: Model, d: Column): Column = {
    val t = (d * lit(86400.0) - lit(m.start)) / lit(m.tScale)
    val kT = m.changepointsT.zip(m.delta).foldLeft(lit(m.k)) {
      case (acc, (cp, dl)) => acc + when(lit(cp) <= t, lit(dl)).otherwise(lit(0.0))
    }
    val mT = m.changepointsT.zip(m.delta).foldLeft(lit(m.m)) {
      case (acc, (cp, dl)) => acc + when(lit(cp) <= t, lit(-(cp * dl))).otherwise(lit(0.0))
    }
    val seasonal = (1 to m.fourierOrder).map { n =>
      // ang = ((2π·n)·d)/period — the literal is (2π)·n exactly as the
      // scorer loop computes it, preserving its rounding order
      val twoPiN = 2.0 * math.Pi * n
      lit(m.beta(2 * (n - 1))) * sin(lit(twoPiN) * d / lit(m.period)) +
        lit(m.beta(2 * (n - 1) + 1)) * cos(lit(twoPiN) * d / lit(m.period))
    }.reduceLeft(_ + _)
    lit(m.yScale) * (kT * t + mT + seasonal)
  }

  /** A double as a DuckDB literal. `Double.toString` round-trips, so
    * the oracle parses back the identical bits.
    */
  def sqlLit(x: Double): String = {
    val s = x.toString
    if (s.contains(".") || s.contains("E") || s.contains("e")) s else s + ".0"
  }

  /** The DuckDB mirror of `yhatColumn`: same literals, same
    * association order (explicit parens reproduce the fold). `d` and
    * `t` are column names of days-since-epoch (DOUBLE) and the
    * pre-scaled time `(d*86400 - start)/t_scale`.
    */
  def yhatSqlExpr(m: Model, d: String, t: String): String = {
    val kT = m.changepointsT.zip(m.delta).foldLeft(sqlLit(m.k)) {
      case (acc, (cp, dl)) =>
        s"($acc + CASE WHEN ${sqlLit(cp)} <= $t THEN ${sqlLit(dl)} ELSE 0.0 END)"
    }
    val mT = m.changepointsT.zip(m.delta).foldLeft(sqlLit(m.m)) {
      case (acc, (cp, dl)) =>
        s"($acc + CASE WHEN ${sqlLit(cp)} <= $t THEN ${sqlLit(-(cp * dl))} ELSE 0.0 END)"
    }
    val seasonal = (1 to m.fourierOrder).map { n =>
      val twoPiN = 2.0 * math.Pi * n
      val ang = s"((${sqlLit(twoPiN)} * $d) / ${sqlLit(m.period)})"
      s"(${sqlLit(m.beta(2 * (n - 1)))} * sin($ang) + ${sqlLit(m.beta(2 * (n - 1) + 1))} * cos($ang))"
    }.reduceLeft((a, b) => s"($a + $b)")
    s"(${sqlLit(m.yScale)} * ((($kT * $t) + $mT) + $seasonal))"
  }

  /** Forecast the next `days` daily totals after the model's embedded
    * history (ds, yhat, yhat_lower, yhat_upper) — the reference returns
    * exactly the last `days` rows (`ml_forecast_anomaly.py:137`).
    *
    * The spine is generated distributed (`sequence`+`explode`); each
    * row's mean + interval is computed independently under a broadcast
    * model — the plan scales linearly in `days` with no shuffle. The
    * model and the draws for each (horizon, seed) are broadcast once
    * per SparkContext.
    */
  def forecast(spark: SparkSession, days: Int, homeId: Option[String] = None,
               seed: Long = 42L): DataFrame = {
    val model = bundled
    val sc = spark.sparkContext
    val bc = ContextBroadcast(sc, model)(model)
    // per-sample future-trend draws are sample-level, not row-level:
    // drawn once per (horizon, seed) (1000 tiny tuples), broadcast
    // beside the model
    val horizonT = ((model.historyEnd.plusDays(days).toEpochDay * 86400.0) - model.start) / model.tScale
    val sims = ContextBroadcast(sc, (model, horizonT, seed))(
      TrendSim.drawPortable(model, horizonT, seed))

    val quantUdf = udf { (epochSec: Double) =>
      val m = bc.value
      val base = m.yhat(epochSec)
      val t = (epochSec - m.start) / m.tScale
      val draws = sims.value.map(s => base + s.trendDeviation(m, t) * m.yScale + s.noise(t) * m.yScale)
      java.util.Arrays.sort(draws)
      val lo = (1.0 - m.intervalWidth) / 2.0
      (TrendSim.percentile(draws, lo), TrendSim.percentile(draws, 1.0 - lo))
    }

    val first = model.historyEnd.plusDays(1).toString
    val last = model.historyEnd.plusDays(days).toString
    spark.range(1)
      .select(explode(sequence(
        to_date(lit(first)), to_date(lit(last)), expr("interval 1 day"))).as("ds"))
      // integer day count × 86400 — timezone-free (the q88 discipline),
      // and exactly what the oracle's date_diff-based epoch computes
      .withColumn("epoch",
        datediff(col("ds"), lit("1970-01-01")).cast("double") * lit(86400.0))
      .withColumn("yhat", udf((e: Double) => bc.value.yhat(e)).apply(col("epoch")))
      .withColumn("q", quantUdf(col("epoch")))
      .select(col("ds"), col("yhat"),
        col("q._1").as("yhat_lower"), col("q._2").as("yhat_upper"))
  }

  /** The q29 oracle: the ENTIRE forecast — mean, 1000 portable MC
    * paths, and the numpy-style interpolated percentiles — replayed in
    * DuckDB SQL from model constants inlined as round-trip literals.
    * Every random variate is the same portable polynomial-hash uniform
    * both engines compute exactly ((hash("mc:seed:s:tag") + 0.5) /
    * (1e9+7) — integer fold, exact float division), pushed through the
    * same inverse transforms; branch decisions (Poisson CDF lookup,
    * changepoint ≤ t) compare bit-identical doubles, so every path is
    * identical by construction. Only ln/cos/sqrt ulp and the final
    * percentile interpolation differ, absorbed by the shared
    * round(..., 4).
    */
  def mcOracleSql(days: Int, seed: Long = 42L): String = {
    val m = bundled
    val first = m.historyEnd.plusDays(1)
    val last = m.historyEnd.plusDays(days)
    val horizonT =
      ((m.historyEnd.plusDays(days).toEpochDay * 86400.0) - m.start) / m.tScale
    val lambdaB = TrendSim.laplaceScale(m)
    val n = m.uncertaintySamples
    val cdf =
      if (horizonT > 1.0)
        TrendSim.poissonCdf(m.changepointsT.length * (horizonT - 1.0))
      else Array.empty[Double]
    val cdfList = cdf.map(sqlLit).mkString("[", ", ", "]")
    // numpy-percentile selection indices, precomputed HERE (one float
    // semantics, inlined as literals — SQL replays the pick, not the
    // index arithmetic)
    val loQ = (1.0 - m.intervalWidth) / 2.0
    def pick(q: Double): (Int, Double) = {
      val idx = q * (n - 1)
      val lo = idx.toInt
      if (lo >= n - 1) (n - 1, 0.0) else (lo, idx - lo)
    }
    val (loI, loF) = pick(loQ)
    val (hiI, hiF) = pick(1.0 - loQ)
    // the portable uniform of a VARCHAR sql expression (mirrors
    // TrendSim.portableU: fold acc*31+codepoint mod 1e9+7, two
    // Pollard-rho avalanche rounds, then (h+0.5)/1e9+7 — all exact
    // arithmetic on both engines; the lambda chain evaluates the fold
    // ONCE and threads it through the two squarings)
    def u(strExpr: String): String = {
      val fold = s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(regexp_split_to_array($strExpr, ''), " +
        s"ch -> CAST(ascii(ch) AS BIGINT))), " +
        s"(acc, cv) -> (acc * 31 + cv) % 1000000007)"
      s"(list_transform(list_transform([$fold], " +
        s"h0 -> (h0 * h0 + 1) % 1000000007), " +
        s"h1 -> ((h1 * h1 + 1) % 1000000007 + 0.5) / 1000000007.0)[1])"
    }
    val h = sqlLit(horizonT)
    val lap = {
      val uu = u(s"'mc:$seed:' || sv || ':d' || CAST(i AS VARCHAR)")
      s"(-(${sqlLit(lambdaB)}) * sign($uu - 0.5) " +
        s"* ln(1.0 - 2.0 * abs($uu - 0.5)))"
    }
    s"""WITH spine AS (
       |  SELECT CAST(unnest(generate_series(DATE '$first', DATE '$last',
       |    INTERVAL 1 DAY)) AS DATE) AS ds),
       |dd AS (
       |  SELECT ds, CAST(date_diff('day', DATE '1970-01-01', ds) AS DOUBLE) AS d
       |  FROM spine),
       |tt AS (
       |  SELECT ds, d,
       |    (((d * 86400.0)) - ${sqlLit(m.start)}) / ${sqlLit(m.tScale)} AS t
       |  FROM dd),
       |base AS (
       |  SELECT ds, t, ${yhatSqlExpr(m, "d", "t")} AS yhat FROM tt),
       |sams AS (
       |  SELECT CAST(r.range AS VARCHAR) AS sv FROM range($n) r),
       |paths AS (
       |  SELECT sv,
       |    len(list_filter($cdfList,
       |      cdfv -> cdfv < ${u(s"'mc:$seed:' || sv || ':n'")})) AS n_new,
       |    sqrt(-2.0 * ln(${u(s"'mc:$seed:' || sv || ':g1'")}))
       |      * cos(${sqlLit(2.0 * math.Pi)}
       |            * ${u(s"'mc:$seed:' || sv || ':g2'")})
       |      * ${sqlLit(m.sigmaObs)} AS noise
       |  FROM sams),
       |sims AS (
       |  SELECT sv, noise,
       |    list_transform(generate_series(1, n_new), i ->
       |      1.0 + ${u(s"'mc:$seed:' || sv || ':c' || CAST(i AS VARCHAR)")}
       |            * ($h - 1.0)) AS cps,
       |    list_transform(generate_series(1, n_new), i -> $lap) AS dts
       |  FROM paths),
       |draws AS (
       |  SELECT b.ds, b.yhat,
       |    (b.yhat
       |     + (list_reduce(list_prepend(0.0,
       |          list_transform(generate_series(1, len(s.cps)), i ->
       |            CASE WHEN s.cps[i] <= b.t
       |                 THEN s.dts[i] * (b.t - s.cps[i]) ELSE 0.0 END)),
       |          (acc, x) -> acc + x) * ${sqlLit(m.yScale)}))
       |    + (s.noise * ${sqlLit(m.yScale)}) AS v
       |  FROM base b CROSS JOIN sims s),
       |ranked AS (
       |  SELECT ds, yhat, v,
       |    row_number() OVER (PARTITION BY ds ORDER BY v) AS rn
       |  FROM draws)
       |SELECT ds, round(max(yhat), 4) AS yhat,
       |  round(max(CASE WHEN rn = ${loI + 1} THEN v END)
       |    + ${sqlLit(loF)} * (max(CASE WHEN rn = ${loI + 2} THEN v END)
       |                        - max(CASE WHEN rn = ${loI + 1} THEN v END)),
       |    4) AS yhat_lower,
       |  round(max(CASE WHEN rn = ${hiI + 1} THEN v END)
       |    + ${sqlLit(hiF)} * (max(CASE WHEN rn = ${hiI + 2} THEN v END)
       |                        - max(CASE WHEN rn = ${hiI + 1} THEN v END)),
       |    4) AS yhat_upper
       |FROM ranked GROUP BY ds""".stripMargin
  }
}

/** One simulated future-trend path (Prophet sample_predictive_trend). */
final case class TrendSim(newCps: Array[Double], newDeltas: Array[Double],
                          noiseDraw: Double) {
  /** Deviation of this path's trend from the MAP trend at time t —
    * only future changepoints (cp > 1, i.e. past training end) differ.
    */
  def trendDeviation(m: ProphetScorer.Model, t: Double): Double = {
    var dev = 0.0
    var i = 0
    while (i < newCps.length) {
      if (newCps(i) <= t) dev += newDeltas(i) * (t - newCps(i))
      i += 1
    }
    dev
  }
  def noise(t: Double): Double = noiseDraw
}

object TrendSim {

  /** Polynomial rolling hash over the tag's characters —
    * fold(acc·31 + codepoint mod 1e9+7), the engine's portable-hash
    * primitive (graft.core.TextAnalysis.rollingHash / the q60
    * discipline) in plain Scala for driver-side draws.
    */
  def portableHash(tag: String): Long = {
    var acc = 0L
    var i = 0
    while (i < tag.length) {
      acc = (acc * 31 + tag.charAt(i).toInt) % 1000000007L
      i += 1
    }
    acc
  }

  /** The portable uniform in (0, 1): the rolling hash pushed through
    * TWO Pollard-rho rounds x → x²+1 mod p (the Sampling.kPerGroup
    * avalanche discipline — the raw fold is AFFINE in the trailing
    * characters, so "…:c1"/"…:c2" tags would yield near-identical
    * uniforms without the mix), then (h + 0.5)/(1e9+7). Integer
    * arithmetic (x² ≤ ~1e18 stays in a 64-bit long) + one exact float
    * add + one correctly-rounded division — bit-identical on any IEEE
    * engine, never exactly 0 or 1 (the inverse transforms stay finite).
    */
  def portableU(tag: String): Double = {
    val h0 = portableHash(tag)
    val h1 = (h0 * h0 + 1L) % 1000000007L
    val h2 = (h1 * h1 + 1L) % 1000000007L
    (h2 + 0.5) / 1000000007.0
  }

  /** Laplace scale b = mean|delta| + 1e-8 (Prophet's MAP heuristic). */
  def laplaceScale(m: ProphetScorer.Model): Double = {
    var s = 0.0; m.delta.foreach(d => s += math.abs(d))
    s / m.delta.length + 1e-8
  }

  /** Poisson CDF table for the inverse-transform count draw: cdf(k)
    * for k = 0.. until the tail mass is < 1e-12 (n_new = #{cdf < u}).
    * Terms accumulate in one fixed order (k ascending), and the table
    * is INLINED as round-trip literals in the oracle SQL — both
    * engines compare u against the identical doubles, so the counts
    * match exactly, never "within ulp".
    */
  def poissonCdf(lambda: Double): Array[Double] = {
    require(lambda >= 0.0 && lambda < 500.0,
      s"poisson cdf table expects a bounded rate, got $lambda")
    val buf = scala.collection.mutable.ArrayBuffer.empty[Double]
    var term = math.exp(-lambda)
    var cdf = term
    buf += cdf
    var k = 1
    while (cdf < 1.0 - 1e-12 && k < 2048) {
      term = term * lambda / k
      cdf += term
      buf += cdf
      k += 1
    }
    buf.toArray
  }

  /** Draw `uncertainty_samples` future-trend paths, every variate a
    * pure function of (seed, sample, draw tag) via [[portableU]]:
    * future changepoint COUNTS by Poisson inverse-CDF lookup, their
    * times uniform in (1, T], their deltas Laplace(0, mean|delta|) by
    * the quantile transform, observation noise N(0, sigma_obs) by
    * Box–Muller. Same distributions Prophet samples; the randomness is
    * engine-replayable (the q29 oracle re-derives every draw in SQL).
    */
  def drawPortable(m: ProphetScorer.Model, horizonT: Double,
                   seed: Long): Array[TrendSim] = {
    val b = laplaceScale(m)
    val future = horizonT > 1.0
    val cdf =
      if (future) poissonCdf(m.changepointsT.length * (horizonT - 1.0))
      else Array.empty[Double]
    Array.tabulate(m.uncertaintySamples) { s =>
      val pre = s"mc:$seed:$s"
      val nNew = if (future) cdf.count(_ < portableU(s"$pre:n")) else 0
      val cps = Array.tabulate(nNew)(i =>
        1.0 + portableU(s"$pre:c${i + 1}") * (horizonT - 1.0))
      val deltas = Array.tabulate(nNew) { i =>
        val u = portableU(s"$pre:d${i + 1}")
        -b * math.signum(u - 0.5) * math.log(1.0 - 2.0 * math.abs(u - 0.5))
      }
      val noise = math.sqrt(-2.0 * math.log(portableU(s"$pre:g1"))) *
        math.cos(2.0 * math.Pi * portableU(s"$pre:g2")) * m.sigmaObs
      TrendSim(cps, deltas, noise)
    }
  }

  /** Linear-interpolation percentile (numpy.percentile semantics). */
  def percentile(sorted: Array[Double], q: Double): Double = {
    val idx = q * (sorted.length - 1)
    val lo = idx.toInt
    if (lo >= sorted.length - 1) sorted.last
    else sorted(lo) + (idx - lo) * (sorted(lo + 1) - sorted(lo))
  }
}
