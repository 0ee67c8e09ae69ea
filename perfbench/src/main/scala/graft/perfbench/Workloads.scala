package graft.perfbench

import java.time.LocalDate

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.engine.{DateScope, ReportRunner}

/** The benchmark's three workloads, each a fixed list of gates from the
  * repository's registry ([[graft.SparkEntry.queries]]) plus, in
  * ledger_reports, report-engine requests generated from the seed. A
  * workload pays in set-up for the memo builds its gates consume, timed by
  * [[graft.Bench.measureSetup]]. */
object Workloads {

  final case class Workload(name: String, gates: Seq[String], reportRequests: Int)

  /** Warm-up request of every set-up; in no workload. */
  val WarmUp = "q1_agg"

  lazy val all: Map[String, Workload] = Seq(
    // Close-of-period reporting: short requests whose fixed costs
    // (construction-time collects, Catalyst, codegen) dominate. Registers,
    // the tax family's shared journal spine, the report engine, stock
    // valuation and relational report queries.
    Workload("ledger_reports", Seq(
      "q171_vat_closing", "q174_tax_totals", "q54_report_runner",
      "q47_general_ledger", "q49_tax_tags", "q78_fifo_remaining",
      "q3_star_join"),
      reportRequests = 2),
    // Training-data curation: native kernels, pair and band shuffles,
    // skew, and a gate reading the near-duplicate pair memo.
    Workload("corpus_curation", Seq(
      "q62_curation_pipeline", "q166_skew_stress", "q34_simhash",
      "q169_simhash_paircount", "q108_incremental_dedup",
      "q40_winnow_fingerprint"),
      reportRequests = 0),
    // The write side: bounded streaming queries (state store, checkpoint
    // commits, sinks), CDC diff/apply, MERGE, the audit log, and file ingest
    // and partitioned-sink gates.
    Workload("stream_cdc", Seq(
      "q159_stream_sessionize", "q46_cdc_diff",
      "q81_cdc_apply", "q92_merge_upsert",
      "q131_audit_value_pairs", "q156_read_log", "q67_csv_ingest",
      "q142_partitioned_sink"),
      reportRequests = 0),
  ).map(w => w.name -> w).toMap

  // ---- seeded report-engine requests ----------------------------------

  /** One generated [[ReportRunner.run]] request over the orders-derived
    * journal q54 uses: a domain sum in the groups' window, a domain sum
    * from the beginning, an account_codes formula and an aggregation over
    * the two sums, evaluated for 1-12 column groups. */
  final case class ReportRequest(id: Int, domain1: Seq[Any], domain2: Seq[Any],
                                 codes: String, groups: Seq[ReportRunner.ColumnGroup]) {
    def name: String = f"report_$id%02d_g${groups.size}%02d"

    def exprs: Seq[ReportRunner.Expr] = Seq(
      ReportRunner.Expr("D1.bal", ReportRunner.DomainSum(domain1)),
      ReportRunner.Expr("D2.bal", ReportRunner.DomainSum(domain2),
        scope = DateScope.FromBeginning),
      ReportRunner.Expr("C1.bal", ReportRunner.CodesFormula(codes)),
      ReportRunner.Expr("A1.bal", ReportRunner.Aggregation(
        "100 * D1.bal / D2.bal", Seq(graft.engine.AggregationEvaluator.RoundTo(2)))))

    def run(spark: SparkSession, dir: String,
            only: Seq[ReportRunner.ColumnGroup] = groups): Map[String, Map[String, Double]] =
      ReportRunner.run(journalCtx(spark, dir), exprs, only)
  }

  def journalCtx(s: SparkSession, d: String): ReportRunner.Ctx = {
    val journal = graft.Tables.orders(s, d).select(
      col("o_orderdate").as("d"),
      (col("o_custkey") % 100).cast("string").as("code"),
      col("o_orderstatus").as("state"),
      col("o_totalprice").as("v"))
    ReportRunner.Ctx(journal, col("d"), col("code"), col("v"))
  }

  private val States = Seq("F", "O", "P")
  private val FirstDay = LocalDate.of(1995, 1, 1)
  private val LastDay = LocalDate.of(2001, 8, 1)

  def reportRequests(seed: Long, n: Int): Seq[ReportRequest] = {
    val rng = new scala.util.Random(seed * 7919L + 17L)
    def leaf(): Seq[Any] = rng.nextInt(4) match {
      case 0 => Seq(("state", "=", States(rng.nextInt(3))))
      case 1 => Seq(("state", "!=", States(rng.nextInt(3))))
      case 2 => Seq(("state", "in", rng.shuffle(States).take(2)))
      case _ => Seq(("state", "=", States(rng.nextInt(3))), ("v", ">", 1000.0 * rng.nextInt(400)))
    }
    val span = java.time.temporal.ChronoUnit.DAYS.between(FirstDay, LastDay).toInt
    // requests come in pairs whose group counts add up to 13: each request
    // has 1-12 groups, and a pass's total work does not depend on the seed
    var previous = 0
    (0 until n).map { id =>
      val count = if (id % 2 == 0) 1 + rng.nextInt(12) else 13 - previous
      previous = count
      val groups = (0 until count).map { g =>
        val from = FirstDay.plusDays(rng.nextInt(span - 30).toLong)
        val end = from.plusDays(30L + rng.nextInt(700))
        val to = if (end.isAfter(LastDay)) LastDay else end
        ReportRunner.ColumnGroup(f"g$g%02d", from, to)
      }
      val p1 = 1 + rng.nextInt(9)
      val codes = rng.nextInt(3) match {
        case 0 => s"$p1"
        case 1 => s"$p1\\($p1${rng.nextInt(10)}) + ${1 + rng.nextInt(9)}C"
        case _ => s"$p1 + ${1 + rng.nextInt(9)}D"
      }
      ReportRequest(id, leaf(), leaf(), codes, groups)
    }
  }
}
