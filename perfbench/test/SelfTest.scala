package perfbench

import java.io.File

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema

import graft.model.Step
import graft.sql.PipelineViews

/** Self-test of the benchmark's answer check, run by
  * `python3 perfbench/run.py --selftest`: on a small generated history,
  * one request of every kind must pass the check, and each perturbed
  * copy of its answer (a value off by one, a missing row, a duplicated
  * row) must fail it. Exits non-zero otherwise. */
object SelfTest {
  def main(argv: Array[String]): Unit = {
    val work = new File(sys.props("java.io.tmpdir"), "selftest")
    val spark = Main.session(work, 2)
    val failures = try run(spark, work) finally spark.stop()
    if (failures.nonEmpty) {
      failures.foreach(f => System.err.println(s"SELFTEST FAIL: $f"))
      sys.exit(1)
    }
    System.err.println("SELFTEST OK")
  }

  private def run(spark: org.apache.spark.sql.SparkSession, work: File): Seq[String] = {
    val seed = 7L
    val days = 10
    val events = 60000L
    val ctx = new Context(spark,
      Main.Args("selftest", seed, 1, trace = false, work, new File(work, "out.json")), 0L, 2)
    val histStart = Gen.HistoryEndMs - days * Gen.DayMs
    val svc = ctx.newService(Gen.Facts.indices)
    svc.attachEventStore(ctx.path("store"))
    svc.ingest(Gen.history(spark, seed, events, histStart, days * Gen.DayMs, 2))
    svc.materializeRollups(ctx.path("rollups"))
    svc.defineDimension("user", facts = Set("requests"))
    PipelineViews.installTimeseriesWindow(spark, svc, "requests", "endpoint",
      Map("region" -> None), Step.Hour, name = Request.SqlFunction)
    val tracked = (0 until Gen.HeavyUsers).toIndexedSeq
    val truth = new Truth(histStart, days * Gen.SlicesPerDay, tracked.toSet)
    (0L until events).foreach(i =>
      truth.add(Gen.event(seed, 0L, i, histStart, days * Gen.DayMs, late = false)))

    val gen = new RequestGen(seed, 0, histStart, Gen.HistoryEndMs, Dashboard.Mix, Seq(0, 1), tracked)
    val reqs = ctx.firstOfEachKind(gen) :+
      Request.Newest(Gen.HistoryEndMs - 3 * Gen.HourMs, Gen.HistoryEndMs)
    ctx.guardRoutes(svc, reqs)
    reqs.flatMap { r =>
      val s = ctx.execute(svc, r, traced = false)
      if (!ctx.check(s, truth)) Seq(s"${r.kind}: the engine's own answer does not check")
      else if (s.rows.isEmpty) Seq(s"${r.kind}: empty answer, nothing to perturb")
      else perturbed(s.rows, r.columns).collect {
        case (what, rows) if ctx.check(s.copy(rows = rows), truth) =>
          s"${r.kind}: the check accepted $what"
      }
    }
  }

  /** Wrong answers derived from a right one. */
  private def perturbed(rows: Array[Row], columns: Seq[String]): Seq[(String, Array[Row])] = {
    val first = rows.head
    val numeric = columns.map(first.fieldIndex).filter(i => first.get(i).isInstanceOf[Long]).last
    val values = first.toSeq.toArray
    values(numeric) = first.getLong(numeric) + 1
    val bumped = new GenericRowWithSchema(values, first.schema)
    Seq(
      "a value off by one" -> (bumped +: rows.tail),
      "a missing row" -> rows.tail,
      "a duplicated row" -> (first +: rows))
  }
}
