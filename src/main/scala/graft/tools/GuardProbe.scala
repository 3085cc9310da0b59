package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-only MEASURED guard-envelope probe (r11 verdict item 7): drives
  * each guarded query to its documented envelope edge with synthetic
  * fixture-shaped inputs and records fire/no-fire, so the envelope
  * table in SURVEY §6 is MEASURED, not derived from the scaladoc
  * arithmetic. Complements ScaleProbe100 (which records guards firing
  * at the 100× fixture — e53's plan guard) and EnvelopeGuardSpec /
  * DetProps (which pin the raise semantics on tiny synthetic
  * breaches): this tool walks a LADDER of axis values bracketing each
  * guard's documented edge, with real query execution on each rung.
  *
  * Guards probed (the complete Det.guarded / plan-guard family):
  *   e41 — per-key bound 2·n²·max|cents| vs Det.r4NumBound; axis =
  *         events per key (scaladoc: ~10⁵ at cent magnitude ~10⁴)
  *   e43 — per-key bound 4·n·max|cents|² ; axis = events per key
  *         (scaladoc: ~10⁶)
  *   e56 — global bound 3·N²·max|cents| ; axis = users
  *         (scaladoc: ~3·10⁵ at $100 lifetime spend — the synthetic
  *         here holds ~$105, so the edge lands near 1.2·10⁵)
  *   e53-plan    — Catalyst input-size estimate vs the 64 MiB ceiling;
  *                 axis = input rows
  *   e53-runtime — actual per-group rows vs the 1M ceiling; axis =
  *                 rows in one group (probed through the Of seam,
  *                 bypassing the plan guard, as a stats underestimate
  *                 would)
  *
  * DistRank's pid-count guard is an INVARIANT guard (fires on plan
  * self-inconsistency, not on a data-size axis) — synthetic breach in
  * DistRankSpec; it has no scale edge to measure and is listed in the
  * SURVEY table as such.
  *
  * Usage: runMain graft.tools.GuardProbe [familyPrefix ...]
  *        (no args = every ladder; args filter by guard-label prefix,
  *        e.g. `e57` runs only the decimal-CUSUM rungs)
  */
object GuardProbe {

  private def outcomeOf(body: => Unit): String =
    try { body; "pass" }
    catch {
      case t: Throwable =>
        val m = Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(e => Option(e.getMessage).getOrElse("")).toSeq
        m.find(s => s.contains("envelope") || s.contains("e53")
            || s.contains("VALUE-MISMATCH"))
          .map(s => s"RAISED[${s.takeWhile(_ != '—').trim.take(80)}]")
          .getOrElse(throw t)
    }

  private def outcome(body: => DataFrame): String =
    outcomeOf(body.collect())

  def main(args: Array[String]): Unit = {
    // driver heap comes from sbt's forked-run JVM options (build.sbt)
    // — spark.driver.memory would be a no-op in local mode, the JVM is
    // already up
    val spark = graft.GraftSession("32")
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val only = args.toSeq
    def wanted(label: String): Boolean =
      only.isEmpty || only.exists(label.startsWith)
    val rows = scala.collection.mutable.ArrayBuffer.empty[(String, String, String, String)]

    // synthetic per-entity history: one hot key, n events, cents ~1.06e4
    def history(n: Long): DataFrame = spark.range(n)
      .select(lit(1L).as("user_id"),
        timestamp_micros($"id" * 3600000000L).as("ts"),
        $"id".as("event_id"),
        (lit(100.0) + ($"id" % 7).cast("double")).as("value"))

    if (wanted("e41")) for (n <- Seq(50000L, 100000L, 150000L, 300000L)) {
      val bound = 2.0 * n * n * 10600.0
      rows += (("e41 (2·n²·max|c|)", s"n=$n/key", f"$bound%.2e",
        outcome(graft.operators.Events.cusumChangepointOf(history(n)))))
    }
    // e57 — e41's DECIMAL(38) branch: must RUN where e41's int64 guard
    // fires (the raise names it as the remediation), and its own
    // envelope (2·n²·max|c| vs Det.r4DecBound = 5e33) must fire on a
    // synthetic magnitude breach (cent magnitude ~1e29 at n=300:
    // bound 1.8e34 ≥ 5e33 — unreachable by count alone, so the breach
    // axis here is VALUE magnitude)
    if (wanted("e57")) for (n <- Seq(150000L, 300000L)) {
      val bound = 2.0 * n * n * 10600.0
      rows += (("e57 decimal (at e41's firing edge)", s"n=$n/key",
        f"$bound%.2e (int64 edge)",
        outcome(graft.operators.Events.cusumChangepointOf(
          history(n), dec128 = true))))
    }
    if (wanted("e57")) locally {
      def hugeHistory(n: Long, mag: Double): DataFrame = spark.range(n)
        .select(lit(1L).as("user_id"),
          timestamp_micros($"id" * 3600000000L).as("ts"),
          $"id".as("event_id"),
          (lit(mag) * (lit(1.0) + ($"id" % 7).cast("double"))).as("value"))
      // a rung that RUNS must also return the RIGHT value (the r13
      // ADVICE finding: pre-r4Dec, these magnitudes ran to completion
      // with a silently long-wrapped quotient, and the bare RUN
      // outcome 'proved' garbage) — recompute the cusum readout
      // driver-side in BigInt and compare exactly, the GraftSpec
      // bigIntTruth pattern at probe scale
      def centsOf(v: Double): BigInt = {
        val rounded = BigDecimal(v * 100)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble
        BigDecimal(rounded)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toBigInt
      }
      def checkedCusum(df: DataFrame): String = {
        val o = outcomeOf {
          val got = graft.operators.Events
            .cusumChangepointOf(df, dec128 = true).collect()
          val hist = df.collect()
            .map(r => (r.getLong(2), centsOf(r.getDouble(3))))
            .sortBy(_._1)
          val n = BigInt(hist.length)
          val sx = hist.map(_._2).sum
          var p = BigInt(0); var minP = BigInt(0); var bestC = BigInt(-1)
          hist.foreach { case (_, c) =>
            p += n * c - sx
            if (p < minP) minP = p
            val cu = p - (if (minP < 0) minP else BigInt(0))
            if (cu > bestC) bestC = cu
          }
          val den = n * 100
          val a = bestC * 20000 + den
          val want = BigDecimal((a - a.mod(den * 2)) / (den * 2))
            .toDouble / 10000.0
          val gotV = got.head.getAs[Double]("cusum_max")
          require(gotV == want,
            f"e57 VALUE-MISMATCH: got $gotV%.6e want $want%.6e " +
              "(long-quotient wrap regressed?)")
        }
        if (o == "pass") "pass(=BigInt)" else o
      }
      for ((n, mag) <- Seq((300L, 1.0e24), (300L, 1.0e27))) {
        val bound = 2.0 * n * n * mag * 100.0 * 7.0
        rows += (("e57 decimal (2·n²·max|c| vs 5e33)",
          s"n=$n/key, |value|~${mag}", f"$bound%.2e",
          checkedCusum(hugeHistory(n, mag))))
      }
    }
    if (wanted("e43")) for (n <- Seq(300000L, 1000000L, 1200000L)) {
      val bound = 4.0 * n * 10600.0 * 10600.0
      rows += (("e43 (4·n·max|c|²)", s"n=$n/key", f"$bound%.2e",
        outcome(graft.operators.Events.seasonalityOf(history(n)))))
    }
    // synthetic per-user spend frame: N users, ~$105 lifetime cents
    def spend(users: Long): DataFrame = spark.range(users)
      .select($"id".as("user_id"),
        (lit(10000L) + $"id" % 997L).as("cents"))
    if (wanted("e56")) for (u <- Seq(30000L, 100000L, 150000L, 300000L)) {
      val bound = 3.0 * u * u * 10996.0
      rows += (("e56 (3·N²·max|c|)", s"N=$u users", f"$bound%.2e",
        outcome(graft.operators.Events.spendConcentrationOf(spend(u)))))
    }
    // e58 — e56's DECIMAL(38) branch: must RUN where e56's int64 guard
    // fires; its own envelope (3·N²·max|c| vs 5e33) fires on a VALUE
    // magnitude breach (cents ~7e30 needs only N=20 users: 8.4e33)
    if (wanted("e58")) for (u <- Seq(150000L, 300000L)) {
      val bound = 3.0 * u * u * 10996.0
      rows += (("e58 decimal (at e56's firing edge)", s"N=$u users",
        f"$bound%.2e (int64 edge)",
        outcome(graft.operators.Events.spendConcentrationOf(
          spend(u), dec128 = true))))
    }
    if (wanted("e58")) locally {
      def hugeSpend(users: Long, mag: String): DataFrame = spark.range(users)
        .select($"id".as("user_id"),
          (expr(s"CAST($mag AS DECIMAL(38,0))") *
            (lit(1L) + $"id" % 7L)).as("cents"))
      // value-check the rung that RUNS (the e57 discipline): recompute
      // the gini driver-side in BigInt — cents are exact decimals here
      // (no double rounding to mirror), so the truth is direct
      def checkedGini(u: Long, mag: String): String = {
        val o = outcomeOf {
          val got = graft.operators.Events
            .spendConcentrationOf(hugeSpend(u, mag), dec128 = true)
            .collect()
          val m = BigInt(java.math.BigDecimal.ONE.movePointRight(30)
            .toBigIntegerExact)
          val cents = (0L until u).map(id => (id, m * (1 + id % 7)))
          val ranked = cents.sortBy { case (id, c) => (c, id) }.zipWithIndex
            .map { case ((_, c), i) => (BigInt(i + 1), c) }
          val n = BigInt(u)
          val t = ranked.map(_._2).sum
          val ic = ranked.map { case (i, c) => i * c }.sum
          val num = ic * 2 - (n + 1) * t
          val den = n * t
          val a = num * 20000 + den
          val want = BigDecimal((a - a.mod(den * 2)) / (den * 2))
            .toDouble / 10000.0
          val gotV = got.head.getAs[Double]("gini")
          require(gotV == want,
            f"e58 VALUE-MISMATCH: got $gotV%.6e want $want%.6e")
        }
        if (o == "pass") "pass(=BigInt)" else o
      }
      for ((u, mag) <- Seq((3L, "1e30"), (20L, "1e30"))) {
        val bound = 3.0 * u * u * 7e30
        rows += (("e58 decimal (3·N²·max|c| vs 5e33)",
          s"N=$u users, |cents|~7e30", f"$bound%.2e",
          checkedGini(u, mag)))
      }
    }
    // e53 plan-time: (event_type, c) frames of growing stats estimate
    def madFrame(n: Long): DataFrame = spark.range(n)
      .select(concat(lit("t"), ($"id" % 5).cast("string")).as("event_type"),
        ($"id" % 20000L).as("c"))
    if (wanted("e53")) for (n <- Seq(1000000L, 3000000L, 8000000L)) {
      val est = madFrame(n).queryExecution.optimizedPlan.stats.sizeInBytes
      rows += (("e53 plan (stats vs 64 MiB)", s"rows=$n", s"${est}B",
        outcome(graft.operators.Events.valueMadOutliersGuarded(madFrame(n)))))
    }
    // e53 runtime: one group past the 1M-row ceiling, THROUGH the Of
    // seam (what a stats underestimate would reach)
    if (wanted("e53")) for (n <- Seq(900000L, 1200000L)) {
      rows += (("e53 runtime (group rows vs 1M)", s"rows=$n/group", s"$n",
        outcome(graft.operators.Events.valueMadOutliersOf(
          madFrame(n).select(lit("hot").as("event_type"), $"c")))))
    }

    println("\n| guard | axis | a-priori bound | outcome |")
    println("| --- | --- | --- | --- |")
    rows.foreach { case (g, a, b, o) =>
      println(s"| $g | $a | $b | $o |")
    }
    spark.stop()
  }
}
