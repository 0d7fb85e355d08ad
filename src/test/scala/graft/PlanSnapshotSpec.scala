package graft

import java.nio.file.{Files, Paths}
import graft.plans.PlanDescriber

/** Golden plan snapshots — the Spark analog of the reference's insta
  * snapshot tests (reference: tests/distributed_aggregation.rs:32-91,
  * src/test_utils/insta.rs:14-29): the NORMALIZED physical plan of each
  * headline query is committed under src/test/resources/plans/ and any
  * drift fails here. This catches silent plan regressions (a lost
  * pushdown, a broadcast that became a shuffle, a new exchange) that
  * row-level oracles can't see.
  *
  * Regenerate after an intentional plan change:
  *   GRAFT_UPDATE_SNAPSHOTS=1 sbt "testOnly graft.PlanSnapshotSpec"
  */
class PlanSnapshotSpec extends SparkSpec {

  // queries whose plans are path/temp-dir free and stable run-to-run
  private val snapshotted = Seq(
    "q01_pricing_summary", "q02_min_within_group", "q03_topk_revenue",
    "q06_scalar_agg", "q12_conditional_counts", "q17_corr_avg_subquery",
    "q21_exists_not_exists", "t_exact_dedup", "v_knn_native",
    "x_window_rank", "e_upsert_compact", "g_degree_hist")

  private val dir = Paths.get("src/test/resources/plans")
  private val update = sys.env.get("GRAFT_UPDATE_SNAPSHOTS").contains("1")

  snapshotted.foreach { name =>
    test(s"$name: normalized physical plan matches the committed snapshot") {
      // snapshots are of UNGATED plans (Registry, not SparkEntry)
      val plan = PlanDescriber.normalized(
        Registry.byName(name).run(spark, sf0001))
      val file = dir.resolve(s"$name.txt")
      if (update) {
        Files.createDirectories(dir)
        Files.writeString(file, plan)
        info(s"snapshot updated: $file")
      } else {
        assert(Files.exists(file),
          s"missing snapshot $file — run with GRAFT_UPDATE_SNAPSHOTS=1")
        val golden = Files.readString(file)
        if (plan != golden) {
          val pl = plan.linesIterator.toSeq
          val gl = golden.linesIterator.toSeq
          val firstDiff = pl.zipAll(gl, "<EOF>", "<EOF>")
            .indexWhere { case (a, b) => a != b }
          fail(s"plan drift for $name at line $firstDiff:\n" +
            s"  now:    ${pl.lift(firstDiff).getOrElse("<EOF>")}\n" +
            s"  golden: ${gl.lift(firstDiff).getOrElse("<EOF>")}\n" +
            "intentional change? regenerate with GRAFT_UPDATE_SNAPSHOTS=1")
        }
      }
    }
  }
}
