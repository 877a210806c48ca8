package graft

import graft.queries.MediaNearDup
import graft.tools.{Harness, Probe}

/** The run harness's scenario table and the name lists it holds, checked
  * without building a fixture or running a query (the plan test plans
  * one query and executes nothing). */
class HarnessSpec extends SparkSpec {
  private val names = Harness.scenarios.map(_.name)

  test("scenario table: unique names, in bench order, covering registry, media faces and z_ztbus") {
    assert(names.distinct.size == names.size)
    val faces = MediaNearDup.faces.map(_._1)
    val z = Seq("z_ztbus_metrics", "z_ztbus_sessions", "z_ztbus_session_stats")
    assert(names == SparkEntry.registry.map(_.name).filterNot(faces.toSet) ++
      faces ++ z)
  }

  test("every name list the harness holds names a scenario") {
    Seq("Bench.WarmupTrio" -> Bench.WarmupTrio,
      "Bench.WarmupFirst" -> Bench.WarmupFirst.toSeq,
      "Probe.Flagship" -> Probe.Flagship).foreach { case (list, ns) =>
      val missing = ns.filterNot(Harness.byName.contains)
      assert(missing.isEmpty, s"$list names no scenario: $missing")
    }
  }

  test("plan text escapes the contentHash sentinels (q97_snapshot_diff)") {
    val df = SparkEntry.queries("q97_snapshot_diff")(spark, sf)
    val raw = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(raw.contains('\u0000'), "q97's plan no longer carries the sentinel")
    val text = Probe.formattedPlan(df)
    assert(!text.contains('\u0000') && !text.contains('\u0001'))
    assert(text.contains("\\x00"))
  }
}
