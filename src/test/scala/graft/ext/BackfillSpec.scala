package graft.ext

import graft.{SparkSuite, Tables}
import org.apache.spark.sql.functions._

class BackfillSpec extends SparkSuite {
  private val dir = "/root/testdata/sf0.001"

  private def canon(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("doc_id").collect().toSeq

  test("backfill of missing partitions equals the from-scratch recompute") {
    val docs = Tables.documents(spark, dir)
    val staged = Backfill.featureDf(
      docs.filter(!col("source").isin("src9", "src19")))
    val got = Backfill.backfillApply(docs, staged)
    assert(canon(got) === canon(Backfill.featureDf(docs)))
  }

  test("backfill is idempotent: an up-to-date artifact yields an empty delta") {
    val docs = Tables.documents(spark, dir)
    val full = Backfill.featureDf(docs)
    assert(Backfill.backfillDelta(docs, full).isEmpty)
    // and applying anyway changes nothing
    assert(canon(Backfill.backfillApply(docs, full)) === canon(full))
  }

  test("backfill from an empty artifact is the full build; repeated arrival composes") {
    val docs = Tables.documents(spark, dir)
    val empty = Backfill.featureDf(docs).limit(0)
    assert(canon(Backfill.backfillApply(docs, empty)) ===
      canon(Backfill.featureDf(docs)))
    // partitions arriving in two waves: backfill after each; the second
    // apply sees the first's output as its stored artifact
    val wave1 = docs.filter(col("source").isin("src0", "src1", "src2"))
    val afterWave1 = Backfill.backfillApply(wave1, empty).localCheckpoint()
    val afterWave2 = Backfill.backfillApply(docs, afterWave1)
    assert(canon(afterWave2) === canon(Backfill.featureDf(docs)))
  }

  test("q_backfill report: only the staged-missing partitions show backfilled rows") {
    val rows = Backfill.qBackfill(spark, dir).collect()
    assert(rows.length === 20)
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      val nb = r.getAs[Long]("n_backfilled")
      if (src == "src9" || src == "src19")
        assert(nb === r.getAs[Long]("n_docs"), s"$src must be fully backfilled")
      else assert(nb === 0L, s"$src was already covered")
    }
  }

  test("the delta scan prunes to the missing partitions (semi join on the partition key)") {
    val docs = Tables.documents(spark, dir)
    val staged = Backfill.featureDf(docs.filter(col("source") =!= "src3"))
    val delta = Backfill.backfillDelta(docs, staged)
    assert(delta.select("source").distinct().collect().map(_.getString(0)).toSeq
      === Seq("src3"))
    val plan = delta.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), s"expected a semi join on source:\n$plan")
  }

  test("torn partition: the row-granular remedy repairs what the partition-granular listing diff cannot see") {
    val docs = Tables.documents(spark, dir)
    // a partial publish: src3 has SOME rows in the artifact, so the
    // listing-level diff reads it as covered
    val torn = Backfill.featureDf(docs)
      .filter(!(col("source") === "src3" && col("doc_id") % 7 === 0))
      .localCheckpoint()
    // the partition-granular form is the documented no-op on this state
    assert(Backfill.backfillDelta(docs, torn).isEmpty,
      "listing diff saw the torn partition — the premise changed")
    // the row-granular remedy fills exactly the gap rows
    val delta = Backfill.backfillDeltaRows(docs, torn).localCheckpoint()
    assert(delta.count() > 0)
    assert(delta.select("source").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("src3"))
    assert(canon(Backfill.backfillApplyRows(docs, torn)) ===
      canon(Backfill.featureDf(docs)))
    // and the audit that schedules the remedy converges: n_missing
    // drops to zero, so the maintenance loop stops re-planning backfill
    val audited = Backfill.featureAuditDf(docs,
      Backfill.backfillApplyRows(docs, torn), Audit.docSample(docs)).head()
    assert(audited.getAs[Long]("n_missing") === 0L)
    assert(audited.getAs[Long]("n_multi") === 0L)
  }

  test("row-granular remedy equals the partition-granular delta on whole-partition gaps, and is idempotent") {
    val docs = Tables.documents(spark, dir)
    val staged = Backfill.featureDf(docs.filter(col("source") =!= "src3"))
      .localCheckpoint()
    assert(canon(Backfill.backfillDeltaRows(docs, staged)) ===
      canon(Backfill.backfillDelta(docs, staged)))
    val full = Backfill.featureDf(docs).localCheckpoint()
    assert(Backfill.backfillDeltaRows(docs, full).isEmpty)
    // the gap scan still prunes: only gap partitions reach the row join
    val plan = Backfill.backfillDeltaRows(docs, staged)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), s"expected a semi join on source:\n$plan")
  }
}
