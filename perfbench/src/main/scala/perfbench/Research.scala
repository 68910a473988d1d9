package perfbench

import graft.{Memo, QueryPack, SparkEntry}
import graft.backtest._
import graft.etl.EtlPack
import graft.operators._
import graft.sources.MarketJob

/** `research`: one client calling market-side registered queries in a
  * closed loop, memo-warm, over a generated tick feed. Per-call
  * construction, planning, job scheduling and memo hits dominate; after
  * the priming pass there are almost no memo fills. The priming pass is
  * set-up: every query's first call fills its memos, `MarketJob.summary`
  * included, so set-up carries the memo-cold cost.
  */
final class Research(r: Run) {
  import r.{spark, trace}

  /** The market-side packs. DerivativesPack is left out: it reads TPC-H
    * `part`, which generated suites do not have.
    */
  val Packs: Seq[(String, QueryPack)] = Seq(
    "BarsPack" -> BarsPack, "EtlPack" -> EtlPack, "BacktestPack" -> BacktestPack,
    "RiskPack" -> RiskPack, "PortfolioPack" -> PortfolioPack, "ExtrasPack" -> ExtrasPack,
    "MarketStatsPack" -> MarketStatsPack, "EventsPack" -> EventsPack,
    "MicroPack" -> MicroPack, "VolPack" -> VolPack, "IndicatorsPack" -> IndicatorsPack,
    "MarketJob" -> MarketJob)

  /** Nominal seconds of one timed pass: `--seconds` / this = passes. */
  val PassSeconds = 10.0

  /** Queries whose DuckDB mirror is a sequential recursive scan that takes
    * minutes at this feed size, too long to check on every run.
    */
  val SlowMirrors = Set("q_cusum_events", "q_order_lifecycle")

  /** The first query of each pack in name order (slow mirrors skipped):
    * every pack is measured and one pass fits a run several times.
    */
  val queries: Seq[(String, String)] = Packs.map { case (p, pack) =>
    pack.queries.keys.filterNot(SlowMirrors).min -> p }.sortBy(_._1)

  def run(): Unit = {
    val fns = SparkEntry.queries
    val dir = r.inputs
    val feedRows = Inputs.Tables("events")
    // Priming pass (set-up): each query's first call fills its memos and
    // writes its output for the oracle check. The traced run splits the
    // composed market job at its stage boundaries, each stage reading the
    // memos the earlier ones filled.
    val p0 = System.nanoTime()
    trace.span("prime", "unit") {
      queries.foreach { case (q, _) =>
        val out = s"${r.work}/outputs/$q"
        def write() = fns(q)(spark, dir).write.mode("overwrite").parquet(out)
        r.call(q, "query", "prime", -1, q, feedRows) {
          if (trace.traced && q == "q_market_job_summary") {
            trace.span("market.clean_ticks", "stage")(MarketJob.cleanTicks(spark, dir).count())
            trace.span("market.clean_bars", "stage")(MarketJob.cleanBars(spark, dir).count())
            trace.span("market.report", "stage")(write())
          } else write()
          0L
        }
        r.oracleCheck(q, out)
      }
    }
    def pass(phase: String, i: Int): Unit = queries.foreach { case (q, _) =>
      r.call(q, "query", phase, i, q, feedRows) {
        val df = trace.span("construct", "phase")(fns(q)(spark, dir))
        trace.span("plan", "phase")(df.queryExecution.executedPlan)
        trace.span("exec", "phase")(df.queryExecution.toRdd.count())
      }
    }
    // One warm pass ends set-up: the JIT is still compiling the query
    // paths after the priming pass, and the first warm pass reads ~20%
    // slower than the later ones.
    trace.span("warmup", "unit")(pass("warm", -1))
    r.setupMs("prime_ms") = (System.nanoTime() - p0) / 1e6
    if (trace.traced) Layers.memoStorage(r)
    r.timedUnits("pass", PassSeconds)(pass("timed", _))
    if (trace.traced) {
      val m0 = System.nanoTime()
      Memo.invalidateAll()
      r.layers("memo.invalidate_ms") = (System.nanoTime() - m0) / 1e6
    }
  }
}
