package graft.ext

import graft.{SparkSuite, Tables}
import org.apache.spark.sql.functions._

class PackingSpec extends SparkSuite {
  private val dir = "/root/testdata/sf0.001"

  /** The textbook form of the packing manifest — ONE window over the
    * global doc_id order, which Spark executes on a single task: the
    * oracle for [[Packing.packSequences]], never a registered query.
    */
  private def packSequencesGlobalWindow(docs: org.apache.spark.sql.DataFrame,
      seqLen: Long = 512L) = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(col("doc_id"),
        size(graft.functions.TextFns.tokens(col("text"))).cast("long").as("n_tok"))
      .withColumn("cost", col("n_tok") + lit(1L))
      .withColumn("t_off", sum("cost").over(w) - col("cost"))
      .withColumn("seq_id", expr(s"t_off div $seqLen"))
      .withColumn("n_seqs",
        when(col("n_tok") === 0L, lit(0L))
          .otherwise(expr(s"(t_off + n_tok - 1) div $seqLen") - col("seq_id") + lit(1L)))
      .select("doc_id", "n_tok", "t_off", "seq_id", "n_seqs")
      .orderBy("doc_id")
  }

  test("distributed prefix-sum packing equals the global-window form") {
    val docs = Tables.documents(spark, dir)
    val got = Packing.packSequences(docs).collect().toSeq
    val ref = packSequencesGlobalWindow(docs).collect().toSeq
    assert(got.nonEmpty)
    assert(got === ref)
  }

  test("packing plan contains no unpartitioned window") {
    val p = Packing.packSequences(Tables.documents(spark, dir))
      .queryExecution.executedPlan.toString
    val windows = p.linesIterator
      .map(_.replaceAll("^[-+:|* ]*", ""))
      .filter(l => l.startsWith("Window ") && !l.startsWith("WindowGroupLimit")).toSeq
    assert(windows.nonEmpty, s"expected a window node:\n$p")
    // WindowExec renders "Window [fns], [partSpec], [orderSpec]" — an
    // unpartitioned window has only two bracket groups
    windows.foreach { w =>
      assert(w.count(_ == '[') >= 3, s"unpartitioned window in plan line: $w")
    }
  }

  test("packing offsets are contiguous: each t_off = previous t_off + cost") {
    val rows = Packing.packSequences(Tables.documents(spark, dir))
      .orderBy("doc_id").collect()
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getAs[Long]("t_off") ===
          a.getAs[Long]("t_off") + a.getAs[Long]("n_tok") + 1L)
      case _ =>
    }
    assert(rows.head.getAs[Long]("t_off") === 0L)
  }

  test("n_seqs covers the span: seq boundaries inside a doc equal n_seqs - 1") {
    val L = 512L
    Packing.packSequences(Tables.documents(spark, dir)).collect().foreach { r =>
      val (off, n, nSeqs) =
        (r.getAs[Long]("t_off"), r.getAs[Long]("n_tok"), r.getAs[Long]("n_seqs"))
      if (n > 0) {
        val crossings = (off + n - 1) / L - off / L
        assert(nSeqs === crossings + 1)
      } else assert(nSeqs === 0L)
    }
  }

  test("packing is invariant to bucket count") {
    val docs = Tables.documents(spark, dir)
    val b64 = Packing.packSequences(docs, buckets = 64).collect().toSeq
    val b3 = Packing.packSequences(docs, buckets = 3).collect().toSeq
    val b1000 = Packing.packSequences(docs, buckets = 1000).collect().toSeq
    assert(b64 === b3)
    assert(b64 === b1000)
  }

  test("incremental pack over batches equals the full-corpus pack, replay idempotent") {
    val docs = Tables.documents(spark, dir)
    val full = Packing.packSequences(docs).collect().toSeq
    val b1 = Packing.packSequences(docs.filter(col("doc_id") < 20))
    val b2 = Packing.packAppend(b1, docs.filter(col("doc_id") >= 20 && col("doc_id") < 35))
    val b3 = Packing.packAppend(b2, docs.filter(col("doc_id") >= 35))
    assert(b3.orderBy("doc_id").collect().toSeq === full)
    // replaying an already-packed batch adds nothing
    val replay = Packing.packAppend(b3, docs.filter(col("doc_id") >= 35))
    assert(replay.orderBy("doc_id").collect().toSeq === full)
    // appending an empty batch is a no-op
    val empty = Packing.packAppend(b3, docs.filter(col("doc_id") < 0))
    assert(empty.orderBy("doc_id").collect().toSeq === full)
  }

  test("writePacked lands a shard-partitioned layout a reader can prune") {
    val docs = Tables.documents(spark, dir)
    val out = tempDir("packed").toString
    // tiny shards so the corpus spans several
    Packing.writePacked(docs, out, seqLen = 64L, shardSeqs = 4L)
    val shards = new java.io.File(graft.ops.Publish.liveDir(spark, out)).listFiles()
      .filter(_.getName.startsWith("shard=")).map(_.getName).sorted
    assert(shards.length > 2, s"expected several shards, got ${shards.toSeq}")
    val back = graft.ops.Publish.readLive(spark, out)
    // every manifest row survives the join+write with its text
    val manifest = Packing.packSequences(docs, seqLen = 64L)
    assert(back.count() === manifest.count())
    assert(back.filter(col("text").isNull).count() === 0L)
    // shard is the starting sequence's shard
    assert(back.filter(expr("shard <> seq_id div 4")).count() === 0L)
    // reading ONE shard directory prunes at planning time
    val one = back.filter(col("shard") === 0L)
    val scan = one.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("shard"),
      s"expected shard partition filter in:\n$scan")
    // and its docs are exactly the manifest rows whose pack starts there
    val expected = manifest.filter(expr("seq_id div 4 = 0")).count()
    assert(one.count() === expected)
  }

  test("packStream maintains the manifest across files, checkpoints, and replays") {
    val docs = Tables.documents(spark, dir)
    val root = tempDir("packstream")
    val in = root.resolve("in"); val mv = root.resolve("mv").toString
    val ckpt = root.resolve("ckpt").toString
    docs.filter(col("doc_id") < 20).write.parquet(in.resolve("b1").toString)
    docs.filter(col("doc_id") >= 20 && col("doc_id") < 35)
      .write.parquet(in.resolve("b2").toString)
    Packing.packStream(spark, s"$in/b*", mv, ckpt)
    val want35 = Packing.packSequences(docs.filter(col("doc_id") < 35))
      .collect().map(_.toString).sorted.toSeq
    def mvRows = graft.ops.StoreIO.read(spark, mv).collect().map(_.toString)
      .sorted.toSeq
    assert(mvRows === want35)
    // fresh checkpoint replays every file: deltas must be empty
    Packing.packStream(spark, s"$in/b*", mv, root.resolve("ckpt2").toString)
    assert(mvRows === want35)
    // a new file under the ORIGINAL checkpoint continues the stream
    docs.filter(col("doc_id") >= 35).write.parquet(in.resolve("b3").toString)
    Packing.packStream(spark, s"$in/b*", mv, ckpt)
    val wantAll = Packing.packSequences(docs).collect().map(_.toString).sorted.toSeq
    assert(mvRows === wantAll)
  }

  test("grouped pack restricted to one group equals the flat pack of that group") {
    val docs = Tables.documents(spark, dir)
    val grouped = Packing.packSequencesBy(docs, "lang")
      .filter(col("lang") === "en")
      .select("doc_id", "n_tok", "t_off", "seq_id", "n_seqs")
      .collect().map(_.toString).toSeq
    val flat = Packing.packSequences(docs.filter(col("lang") === "en"))
      .collect().map(_.toString).toSeq
    assert(grouped.nonEmpty)
    assert(grouped === flat)
  }

  test("repackManifest over surviving rows equals packSequences over the surviving docs") {
    val docs = Tables.documents(spark, dir)
    val manifest = Packing.packSequences(docs)
    val deleted = docs.filter(col("source") === "src7").select("doc_id")
    val repacked = Packing.repackManifest(
        manifest.join(deleted, Seq("doc_id"), "left_anti"))
      .collect().map(_.toString).toSeq
    val rebuilt = Packing.packSequences(
        docs.join(deleted, Seq("doc_id"), "left_anti"))
      .collect().map(_.toString).toSeq
    assert(repacked.nonEmpty)
    assert(repacked === rebuilt,
      "offsets re-derived from stored token counts must equal a from-scratch pack")
  }

  test("tombstone-served manifest equals the full repack of survivors, at suffix cost") {
    val docs = Tables.documents(spark, dir).localCheckpoint()
    val manifest = Packing.packSequences(docs).localCheckpoint()
    def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    def reference(tombs: org.apache.spark.sql.DataFrame): Seq[String] =
      sortedRows(Packing.repackManifest(
        manifest.join(tombs, Seq("doc_id"), "left_anti")))
    // mid-corpus takedown (the standing src7 set), tail takedown (the
    // q_manifest_served rule), the FINAL row, and a tombstone for a
    // doc the manifest never held (must be a pure pass-through)
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val cases = Seq(
      "mid" -> docs.filter(col("source") === "src7").select("doc_id"),
      "tail" -> docs.filter(col("source") === "src7" &&
        col("doc_id") >= (maxId + 1L) * 9L / 10L).select("doc_id"),
      "last" -> docs.filter(col("doc_id") === maxId).select("doc_id"),
      "absent" -> spark.range(maxId + 100L, maxId + 103L)
        .select(col("id").as("doc_id")))
    for ((name, tombs) <- cases) {
      val served = sortedRows(Packing.manifestServed(manifest, tombs))
      assert(served === reference(tombs), s"case $name diverged")
    }
    // the suffix seam: under the tail takedown, every stored row below
    // the first tombstoned id must appear in the served view VERBATIM
    // (the pass-through face — no recompute touched it)
    val tailTombs = cases.toMap.apply("tail")
    val minDel = manifest.join(tailTombs, Seq("doc_id"))
      .agg(min(col("doc_id"))).head().getLong(0)
    val servedPrefix = sortedRows(
      Packing.manifestServed(manifest, tailTombs)
        .filter(col("doc_id") < minDel))
    assert(servedPrefix === sortedRows(manifest.filter(col("doc_id") < minDel)))
    // no tombstones: the stored manifest verbatim
    assert(sortedRows(Packing.manifestServed(manifest,
      manifest.select("doc_id").limit(0))) === sortedRows(manifest))
  }

  test("repack delta: closed-form report matches the actual before/after manifests") {
    val docs = Tables.documents(spark, dir)
    val deleted = docs.filter(col("source") === "src7").select("doc_id")
    val r = Packing.repackDeltaDf(docs, deleted).head()
    val before = Packing.packSequences(docs).collect()
    val after = Packing.packSequences(
      docs.join(deleted, Seq("doc_id"), "left_anti")).collect()
    def nSeqs(m: Array[org.apache.spark.sql.Row]): Long =
      m.filter(_.getLong(1) > 0).map(x => x.getLong(3) + x.getLong(4) - 1).max + 1
    assert(r.getLong(1) === nSeqs(before), "n_seqs_before")
    assert(r.getLong(2) === nSeqs(after), "n_seqs_after")
    // first_affected_seq is the first deleted token's sequence in the
    // OLD manifest, and the new manifest is byte-identical before it:
    // every row fully inside [0, first_affected) is unchanged
    val delIds = deleted.collect().map(_.getLong(0)).toSet
    val firstAffected = before.filter(x => delIds(x.getLong(0)))
      .map(_.getLong(3)).min
    assert(r.getLong(0) === firstAffected, "first_affected_seq")
    val beforeRows = before.filterNot(x => delIds(x.getLong(0)))
      .filter(x => x.getLong(3) + x.getLong(4) - 1 < firstAffected)
      .map(_.toString).toSet
    val afterRows = after.map(_.toString).toSet
    assert(beforeRows.subsetOf(afterRows),
      "rows fully before the first affected sequence must be unchanged")
    assert(r.getLong(3) === r.getLong(2) - r.getLong(0), "n_seqs_reemitted")
    // docs_shifted: every survivor after the first deleted id moves
    val minDel = delIds.min
    assert(r.getLong(4) ===
      before.count(x => !delIds(x.getLong(0)) && x.getLong(0) > minDel).toLong)
    // empty delete set: nothing affected, nothing re-emitted
    val none = Packing.repackDeltaDf(docs, deleted.limit(0)).head()
    assert(none.getLong(0) === none.getLong(1))
    assert(none.getLong(2) === none.getLong(1))
    assert(none.getLong(3) === 0L && none.getLong(4) === 0L && none.getLong(5) === 0L)
  }

  test("manifest audit: a healthy manifest audits to all-zero violations") {
    val docs = Tables.documents(spark, dir)
    val m = Packing.packSequences(docs)
    val r = Packing.manifestAuditDf(docs, m, Audit.docSample(docs)).head()
    assert(r.getAs[Long]("n_rows") === docs.count())
    assert(r.getAs[Long]("n_formula_bad") === 0L)
    assert(r.getAs[Long]("n_adjacency_bad") === 0L)
    assert(r.getAs[Long]("n_missing") === 0L)
    assert(r.getAs[Long]("n_orphans") === 0L)
    assert(r.getAs[Long]("n_tok_mismatch") === 0L)
    assert(r.getAs[Long]("sample_n") === math.min(1024L, docs.count()))
    // total_cost is the stream length the next packDelta resumes from
    val total = m.agg(max(col("t_off") + col("n_tok") + 1L)).head().getLong(0)
    assert(r.getAs[Long]("total_cost") === total)
  }

  test("manifest audit catches every planted corruption class") {
    val docs = Tables.documents(spark, dir)
    val m = Packing.packSequences(docs).localCheckpoint()
    val someId = m.orderBy("doc_id").limit(50).orderBy(col("doc_id").desc)
      .head().getAs[Long]("doc_id")
    // (a) one shifted offset: the prefix-sum chain breaks around it
    val shifted = m.withColumn("t_off",
      when(col("doc_id") === someId, col("t_off") + 1L).otherwise(col("t_off")))
    assert(Packing.manifestAuditDf(docs, shifted, Audit.docSample(docs)).head()
      .getAs[Long]("n_adjacency_bad") >= 1L)
    // (b) a dropped row: coverage AND adjacency both fire
    val dropped = m.filter(col("doc_id") =!= someId)
    val rd = Packing.manifestAuditDf(docs, dropped, Audit.docSample(docs)).head()
    assert(rd.getAs[Long]("n_missing") === 1L)
    assert(rd.getAs[Long]("n_adjacency_bad") >= 1L)
    // (c) an orphan row (manifest kept a deleted doc)
    val orphan = m.unionByName(m.filter(col("doc_id") === someId)
      .withColumn("doc_id", col("doc_id") + 1000000L))
    assert(Packing.manifestAuditDf(docs, orphan, Audit.docSample(docs)).head()
      .getAs[Long]("n_orphans") === 1L)
    // (d) a stale token count, caught by the sampled recompute when the
    // row is in the sample (the corpus as the sample ⇒ always sampled)
    val stale = m.withColumn("n_tok",
      when(col("doc_id") === someId, col("n_tok") + 3L).otherwise(col("n_tok")))
    assert(Packing.manifestAuditDf(docs, stale, docs)
      .head().getAs[Long]("n_tok_mismatch") === 1L)
    // (e) broken per-row arithmetic
    val badSeq = m.withColumn("seq_id",
      when(col("doc_id") === someId, col("seq_id") + 1L).otherwise(col("seq_id")))
    assert(Packing.manifestAuditDf(docs, badSeq, Audit.docSample(docs)).head()
      .getAs[Long]("n_formula_bad") === 1L)
    // (f) a replayed append: one doc_id holds two rows
    val replayed = m.unionByName(m.filter(col("doc_id") === someId))
    assert(Packing.manifestAuditDf(docs, replayed, Audit.docSample(docs)).head()
      .getAs[Long]("n_dup_rows") === 1L)
    // a stale token count on BOTH rows of a replayed sampled doc counts once
    val staleReplayed = Packing.manifestAuditDf(docs,
      stale.unionByName(stale.filter(col("doc_id") === someId)), docs).head()
    assert(staleReplayed.getAs[Long]("n_tok_mismatch") === 1L)
    assert(staleReplayed.getAs[Long]("sample_n") === docs.count())
  }

  test("manifest audit boundary leg catches a whole-bucket shift the in-bucket lead misses") {
    val docs = Tables.documents(spark, dir)
    val m = Packing.packSequences(docs).localCheckpoint()
    val bounds = m.agg(min(col("doc_id")), max(col("doc_id"))).head()
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val buckets = 8
    val width = math.max(1L, (hi - lo) / buckets + 1L)
    // shift EVERY row of one interior bucket: offsets stay mutually
    // consistent inside it, so only the cross-bucket chain can notice
    val b2lo = lo + 2 * width; val b2hi = lo + 3 * width
    val shifted = m.withColumn("t_off",
      when(col("doc_id") >= b2lo && col("doc_id") < b2hi, col("t_off") + 7L)
        .otherwise(col("t_off")))
    assert(shifted.filter(col("doc_id") >= b2lo && col("doc_id") < b2hi).count() > 0,
      "test needs a populated interior bucket")
    val r = Packing.manifestAuditDf(docs, shifted, Audit.docSample(docs),
      buckets = buckets).head()
    assert(r.getAs[Long]("n_adjacency_bad") === 2L,
      "exactly the two boundaries of the shifted bucket must fire")
  }
}
