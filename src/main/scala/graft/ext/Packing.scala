package graft.ext

import graft.Tables
import graft.functions.TextFns
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Global training-sequence packing manifest for an LLM data pipeline:
  * concat-and-chunk packing maps every document to its token offset in
  * the virtual concatenated corpus stream, hence to the fixed-length
  * training sequences it lands in. Completes the packing family:
  * `q_pack_chars` (queries/Parity.scala) packs by char budget WITHIN
  * independent hash buckets (no cross-bucket offsets) and `text_chunks`
  * (ext/Text.scala) splits single documents into overlapping windows;
  * this operator is the third shape — ONE corpus-wide coordinate
  * system, the manifest an actual pack-writer shards on. The reference
  * pipeline stops at partitioned parquet (`nrg_etl.py:37,72`); this is
  * the layout step a tokenized corpus needs next.
  *
  * Scale note — the packing offset is a GLOBAL running sum in doc_id
  * order, which Spark's window API would compute on a single task
  * (`Window.orderBy` with no partition key: the exact anti-pattern the
  * decile profile replaced). [[packSequences]] instead runs a distributed
  * two-pass prefix sum: bucket by a doc_id range split, per-bucket totals
  * (one tiny aggregate, ≤`buckets` rows to the driver), driver scan turns
  * totals into bucket base offsets, broadcast back, and the running sum
  * runs per-bucket — every window in the plan is partitioned, asserted in
  * PackingSpec against both the plan text and the naive global-window
  * form's results.
  */
object Packing {

  private def nTok = size(TextFns.tokens(col("text"))).cast("long")

  /** Per-document token counts keyed for packing: cost = n_tok + 1 (the
    * separator token every concat-and-chunk tokenizer appends). Keeps
    * every non-text column, so grouped packing's key survives.
    */
  private def tokenCosts(docs: DataFrame): DataFrame =
    docs.withColumn("n_tok", nTok)
      .drop("text")
      .withColumn("cost", col("n_tok") + lit(1L))

  /** Concat-and-chunk packing: documents joined in doc_id order into one
    * virtual token stream (one separator after each doc), cut into
    * fixed-length training sequences of `seqLen`. Emits each document's
    * global token offset, the sequence its first token lands in, and how
    * many sequences it spans — the manifest a pack-writer shards on.
    *
    * Two-pass distributed prefix sum (no global-order window):
    * pass 1 computes per-bucket cost totals where bucket = doc_id range
    * split into `buckets` slices (exact min/max from one aggregate);
    * the driver prefix-scans the ≤`buckets` totals into base offsets;
    * pass 2 adds the base to a PER-BUCKET running sum. At 100 TB the
    * only driver-side state is `buckets` longs, and no task ever holds
    * more than one bucket's rows.
    */
  def packSequences(docs: DataFrame, seqLen: Long = 512L, buckets: Int = 64,
      base: Long = 0L): DataFrame =
    packFromCosts(tokenCosts(docs), seqLen, buckets, base)

  /** The manifest recomputed from a stored manifest's own (doc_id,
    * n_tok) rows — NO corpus access: a delete retraction drops rows and
    * re-derives every offset from the surviving token counts
    * ([[graft.ext.Dedup.deleteApply]]'s manifest leg; PackingSpec pins
    * repack-of-survivor-rows ≡ packSequences over the surviving docs).
    */
  def repackManifest(manifest: DataFrame, seqLen: Long = 512L,
      buckets: Int = 64): DataFrame =
    packFromCosts(
      manifest.select(col("doc_id"), col("n_tok"))
        .withColumn("cost", col("n_tok") + lit(1L)),
      seqLen, buckets)

  private def packFromCosts(costs: DataFrame, seqLen: Long, buckets: Int,
      base: Long = 0L): DataFrame = {
    val spark = costs.sparkSession
    val bounds = costs.agg(min("doc_id"), max("doc_id")).head()
    if (bounds.isNullAt(0))
      return spark.emptyDataFrame
        .select(lit(0L).as("doc_id"), lit(0L).as("n_tok"), lit(0L).as("t_off"),
          lit(0L).as("seq_id"), lit(0L).as("n_seqs"))
        .limit(0)
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val width = math.max(1L, (hi - lo) / buckets + 1L)
    val bucketed = costs.withColumn("bucket", ((col("doc_id") - lit(lo)) / lit(width)).cast("long"))
    // pass 1: bucket totals -> driver prefix scan -> base offsets
    val totals = bucketed.groupBy("bucket").agg(sum("cost").as("total"))
      .orderBy("bucket").collect()
    var acc = base
    val bases = totals.map { r =>
      val b = (r.getLong(0), acc); acc += r.getLong(1); b
    }.toSeq
    val baseDf = spark.createDataFrame(bases).toDF("bucket", "base")
    // pass 2: per-bucket running sum + broadcast base join
    val w = Window.partitionBy("bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketed
      .join(broadcast(baseDf), "bucket")
      .withColumn("t_off", col("base") + sum("cost").over(w) - col("cost"))
      .withColumn("seq_id", expr(s"t_off div $seqLen"))
      .withColumn("n_seqs",
        when(col("n_tok") === 0L, lit(0L))
          .otherwise(expr(s"(t_off + n_tok - 1) div $seqLen") - col("seq_id") + lit(1L)))
      .select("doc_id", "n_tok", "t_off", "seq_id", "n_seqs")
      .orderBy("doc_id")
  }

  /** Incremental packing — the daily-cadence form: extend an existing
    * manifest with a new batch WITHOUT repacking the corpus. The only
    * state the stream needs is its total token count, and that is
    * recoverable from the manifest itself (the last document's
    * `t_off + n_tok + 1`), so one tiny aggregate over the stored
    * manifest replaces any side-channel state file. Already-packed
    * doc_ids are filtered out before packing, which makes batch REPLAY
    * idempotent — the same at-least-once discipline as the incremental
    * near-dup index (`dedupIncremental`). Daily cost is proportional to
    * the batch, not the corpus; appended offsets continue the stream
    * exactly (PackingSpec: union-over-batches equals the full-corpus
    * pack).
    *
    * Precondition (same as the full pack): doc_ids arrive in ascending
    * order across batches — a packing stream is append-only by
    * construction.
    */
  def packAppend(manifest: DataFrame, newDocs: DataFrame,
      seqLen: Long = 512L, buckets: Int = 64): DataFrame =
    manifest.unionByName(packDelta(manifest, newDocs, seqLen, buckets))

  /** Just the NEW manifest rows a batch contributes — what the streaming
    * maintenance appends to the stored manifest.
    */
  def packDelta(manifest: DataFrame, newDocs: DataFrame,
      seqLen: Long = 512L, buckets: Int = 64): DataFrame = {
    val st = manifest.agg(
      max(col("t_off") + col("n_tok") + lit(1L)).as("total"),
      max(col("doc_id")).as("max_id")).head()
    val (total, maxId) =
      if (st.isNullAt(0)) (0L, Long.MinValue) else (st.getLong(0), st.getLong(1))
    packSequences(newDocs.filter(col("doc_id") > maxId), seqLen, buckets, base = total)
  }

  /** REPACK-DELTA report — the pack-manifest leg of the delete loop,
    * priced: given a delete set, how much of the packed corpus a
    * retraction re-emits. Concat-and-chunk packing shifts every token
    * offset after the FIRST deleted document, so the new manifest is
    * byte-identical up to `first_affected_seq` (the sequence holding
    * the first deleted token) and everything from there to
    * `n_seqs_after` must be rewritten (`n_seqs_reemitted`);
    * `docs_shifted` counts the surviving documents whose offsets move
    * (every survivor after the first deleted id — deletion removes
    * cost ≥ 1, so all of them shift). One row.
    *
    * Everything derives arithmetically from token counts — NO prefix
    * sum, NO window: total cost, the deleted slice's scalars, and the
    * pre-deletion prefix cost are three 1-row aggregates (two corpus
    * scans: the broadcast-semi deleted slice, then one fused pass).
    * The identity n_seqs_after = ceil((total − cost_dropped)/seqLen)
    * holds because repacking survivors preserves their relative order.
    */
  def repackDeltaDf(docs: DataFrame, deletedIds: DataFrame,
      seqLen: Long = 512L): DataFrame = {
    val spark = docs.sparkSession
    val del = Dedup.deleteSet(deletedIds)
    val t = docs.select(col("doc_id"), nTok.as("n_tok"))
    val dd = t.join(broadcast(del), Seq("doc_id"))
      .agg(min(col("doc_id")).as("min_del_id"),
        coalesce(sum(col("n_tok")), lit(0L)).as("tokens_dropped"),
        coalesce(sum(col("n_tok") + 1), lit(0L)).as("cost_dropped"))
      .localCheckpoint()
    t.join(broadcast(del.withColumn("d", lit(1))), Seq("doc_id"), "left")
      .crossJoin(broadcast(dd))
      .agg(
        first(col("min_del_id")).as("min_del_id"),
        first(col("tokens_dropped")).as("tokens_dropped"),
        first(col("cost_dropped")).as("cost_dropped"),
        sum(col("n_tok") + 1).as("total"),
        coalesce(sum(when(col("doc_id") < col("min_del_id"), col("n_tok") + 1)),
          lit(0L)).as("prefix_cost"),
        sum(when(col("doc_id") > col("min_del_id") && col("d").isNull, 1L)
          .otherwise(0L)).as("docs_shifted"))
      .select(
        when(col("min_del_id").isNull,
          expr(s"(total + ${seqLen - 1}) div $seqLen"))
          .otherwise(expr(s"prefix_cost div $seqLen")).as("first_affected_seq"),
        expr(s"(total + ${seqLen - 1}) div $seqLen").as("n_seqs_before"),
        when(col("total") - col("cost_dropped") <= 0, 0L)
          .otherwise(expr(s"(total - cost_dropped + ${seqLen - 1}) div $seqLen"))
          .as("n_seqs_after"),
        col("docs_shifted"), col("tokens_dropped"))
      .withColumn("n_seqs_reemitted", col("n_seqs_after") - col("first_affected_seq"))
      .select("first_affected_seq", "n_seqs_before", "n_seqs_after",
        "n_seqs_reemitted", "docs_shifted", "tokens_dropped")
  }

  /** Driver entry: the standing src7 takedown (the delete-family rule). */
  def qRepackDelta(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    repackDeltaDf(docs, Dedup.standingTakedown(docs))
  }

  /** TOMBSTONE-SERVED manifest — the merge-on-read form for the one
    * store a plain anti-join cannot serve: offsets are POSITIONAL, so
    * dropping a row shifts every later document's `t_off`. The full
    * recompute ([[repackManifest]] over survivors) prices a takedown at
    * the whole store; this serves it at the cost of the AFFECTED SUFFIX
    * instead, using the [[repackDeltaDf]] closed form's observation
    * that the manifest is byte-identical up to the first tombstoned
    * document:
    *
    *   - rows before the first tombstoned doc_id PASS THROUGH from the
    *     stored manifest (no window, no shuffle — their offsets cannot
    *     have moved, because packing only accumulates cost forward);
    *   - rows after it repack through the same two-pass prefix sum,
    *     SEEDED with the tombstoned row's own stored `t_off` (the
    *     stored manifest's self-consistency makes that exactly the
    *     surviving prefix cost).
    *
    * Equals [[repackManifest]] over the tombstone-filtered rows row for
    * row (PackingSpec pins it, including tombstones absent from the
    * manifest and a tombstoned final row), so a takedown near the
    * corpus tail costs the tail, not the store. The tombstone side is
    * delete-sized and broadcast; the one driver-side value is the
    * first tombstoned row's (doc_id, t_off) pair.
    */
  def manifestServed(manifest: DataFrame, tombs: DataFrame,
      seqLen: Long = 512L, buckets: Int = 64): DataFrame = {
    val cols = Seq("doc_id", "n_tok", "t_off", "seq_id", "n_seqs").map(col)
    val t = Dedup.deleteSet(tombs)
    val hit = manifest.join(broadcast(t), Seq("doc_id"))
      .agg(min(struct(col("doc_id"), col("t_off"))).as("m"))
      .head().getAs[org.apache.spark.sql.Row]("m")
    if (hit == null) manifest.select(cols: _*)
    else {
      val (minDel, base) = (hit.getLong(0), hit.getLong(1))
      val prefix = manifest.filter(col("doc_id") < minDel).select(cols: _*)
      val suffixCosts = manifest.filter(col("doc_id") > minDel)
        .join(broadcast(t), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("n_tok"))
        .withColumn("cost", col("n_tok") + lit(1L))
      prefix.unionByName(packFromCosts(suffixCosts, seqLen, buckets, base))
    }
  }

  /** Driver entry: a TAIL takedown (the standing src7 rule restricted
    * to the top doc_id decile — the shape where serving beats
    * repacking most) against the maintained manifest. The oracle is
    * the from-scratch pack of the surviving corpus, so the suffix-seam
    * arithmetic is hash-gated end to end.
    */
  def qManifestServed(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val cutoff = (docs.agg(max(col("doc_id"))).head().getLong(0) + 1L) * 9L / 10L
    val tombs = Dedup.standingTakedown(docs).filter(col("doc_id") >= cutoff)
    manifestServed(graft.ops.Publish.readLive(spark, ensureManifest(spark, dir)), tombs)
      .orderBy("doc_id")
  }

  /** Streaming face of the manifest maintenance: a checkpointed file
    * stream watches the document drop directory and every micro-batch
    * appends its [[packDelta]] to the stored manifest as a
    * [[graft.ops.StoreIO]] delta child (live ∪ delta is the manifest) —
    * arrival-to-packed latency is one batch-sized pack, and the
    * checkpoint makes re-runs process only new files. Unlike the
    * additive aggregate view (`IncrAgg.maintainStream`, which needs a
    * batch-id ledger), replay here is idempotent WITHOUT extra state: a
    * redelivered batch's doc_ids are ≤ the stored max, so its delta is
    * empty by construction; each child is written whole, so a crashed
    * micro-batch leaves no partial rows behind.
    *
    * Precondition: drop files carry ascending doc_id ranges in
    * file-arrival order (the append-only packing stream contract).
    */
  def packStream(spark: SparkSession, inputGlob: String, manifestPath: String,
      checkpoint: String, seqLen: Long = 512L, buckets: Int = 64): Unit = {
    import graft.ops.StoreIO
    import graft.streaming.{Streaming, Streams}
    Streams.drain(
      Streams.fileStream(spark, Streaming.docsRawSchema, inputGlob, oneFilePerTrigger = true),
      Streams.ForeachBatch(Some(checkpoint), { (batch, _) =>
        // a missing manifest reads as empty: the first delta packs from 0
        val delta = packDelta(
          StoreIO.read(spark, manifestPath, Some(Dedup.ManifestDdl)),
          batch, seqLen, buckets)
        if (!delta.isEmpty) StoreIO.append(delta, manifestPath)
      }))
  }

  /** Per-sequence occupancy profile over the packed manifest: how many
    * documents START in each training sequence and the token mass they
    * contribute — the skew check a pack run ends with (a sequence
    * spanned by one huge document starts 0 docs; a run of tiny docs
    * piles dozens into one). Pure reaggregation of [[packSequences]]:
    * one extra shuffle on seq_id, counts stay partial-aggregated.
    */
  def packProfile(docs: DataFrame, seqLen: Long = 512L, buckets: Int = 64): DataFrame =
    packSequences(docs, seqLen, buckets)
      .groupBy("seq_id")
      .agg(
        count(lit(1)).as("n_docs_started"),
        sum("n_tok").as("tok_started"),
        min("doc_id").as("first_doc"))
      .orderBy("seq_id")

  /** Physical pack layout — the write the manifest exists for: documents
    * joined to their pack coordinates and written as parquet partitioned
    * by SHARD (a fixed run of `shardSeqs` training sequences), rows
    * sorted by t_off within each file. A trainer reading shard k gets
    * its sequences' documents in stream order from one directory — the
    * same serving-layout discipline as the LSH bucket corpus
    * (`Similarity.writeBucketedCorpus`) and the IVF list layout
    * (`Ivf.writeIvfPartitioned`): the reader's access pattern becomes a
    * static partition filter. Documents spanning a shard boundary land
    * in their STARTING shard (readers of shard k+1 re-read the boundary
    * doc from k; boundary docs per shard ≤ 1 by construction).
    */
  /** The packed layout's ONE frame definition — shared by the writer,
    * the staged audit artifact, and the maintenance repack remedy.
    */
  def packedFrame(docs: DataFrame, seqLen: Long = 512L, buckets: Int = 64,
      shardSeqs: Long = 1000L): DataFrame =
    packSequences(docs, seqLen, buckets)
      .withColumn("shard", expr(s"seq_id div $shardSeqs"))
      .join(docs, "doc_id")

  def writePacked(docs: DataFrame, path: String, seqLen: Long = 512L,
      buckets: Int = 64, shardSeqs: Long = 1000L): Unit =
    graft.ops.Publish.publish(docs.sparkSession, path,
      packedFrame(docs, seqLen, buckets, shardSeqs)
        .repartitionByRange(col("shard"), col("t_off"))
        .sortWithinPartitions("shard", "t_off"),
      partitionBy = Seq("shard"))

  /** Grouped packing — one independent token stream per group (the
    * per-language training-shard layout: each language packs into its
    * own sequence space, offsets restarting at zero per group). Here
    * the group key IS a partition key, so the running sum runs as an
    * ordinary partitioned window — one shuffle on the group column, no
    * prefix-sum machinery needed. The caveat the flat pack solves
    * remains at the margin: ONE giant group still lands on one task, so
    * a corpus whose largest language dominates should pack that group
    * through [[packSequences]] instead (same manifest schema, so the
    * union is seamless).
    */
  def packSequencesBy(docs: DataFrame, group: String, seqLen: Long = 512L): DataFrame = {
    val w = Window.partitionBy(group).orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tokenCosts(docs.select(col("doc_id"), col(group), col("text")))
      .withColumn("t_off", sum("cost").over(w) - col("cost"))
      .withColumn("seq_id", expr(s"t_off div $seqLen"))
      .withColumn("n_seqs",
        when(col("n_tok") === 0L, lit(0L))
          .otherwise(expr(s"(t_off + n_tok - 1) div $seqLen") - col("seq_id") + lit(1L)))
      .select(col(group), col("doc_id"), col("n_tok"), col("t_off"),
        col("seq_id"), col("n_seqs"))
      .orderBy(group, "doc_id")
  }

  // --- Manifest audit ------------------------------------------------------
  //
  // The pack manifest is MAINTAINED state (packStream appends deltas,
  // deleteApply rewrites it from survivor rows) — and maintained state
  // must be auditable without the full recompute that maintenance
  // exists to avoid. This is the pack-manifest member of the store-audit
  // family (pair artifact: Dedup.artifactAuditDf): the manifest's own
  // INVARIANTS are checkable from one linear pass each, and the only
  // corpus-dependent fact (a row's token count) is checkable on a fixed
  // hash sample — so the audit stays store-sized + sample-bounded at
  // any corpus scale, never a repack.

  /** Per-(JVM, corpus) staged pack manifest — the maintained artifact
    * the audit entry reads (built once at ingest cost; Bench pre-builds
    * it untimed, so the timed entry measures audit cost only).
    */
  def ensureManifest(spark: SparkSession, dir: String): String =
    graft.ops.Scratch.fixture("pack_manifest", dir) { fixtureDir =>
      val manifest = packSequences(Tables.documents(spark, dir))
      val p = fixtureDir.resolve("manifest").toString
      graft.ops.Publish.publish(spark, p, manifest)
      p
    }

  /** MANIFEST AUDIT — one health row for a stored pack manifest, from
    * one [[Audit.keyedAuditDf]] pass on doc_id plus the bucketed
    * adjacency check (neither repacks the corpus):
    *
    *   - `n_formula_bad`: rows whose (seq_id, n_seqs) disagree with
    *     their own (t_off, n_tok) — the per-row arithmetic invariant,
    *     summed in the keyed pass with `n_rows`/`total_cost`.
    *   - `n_adjacency_bad`: the prefix-sum invariant t_off(next) =
    *     t_off + n_tok + 1 in doc_id order. Checked WITHOUT a global
    *     window (corpus-sized single-task input — the shape the
    *     unpartitioned-window pin forbids): rows bucket by a doc_id
    *     range split exactly as [[packSequences]] packs, adjacency runs
    *     as a per-bucket `lead`, and the ≤`buckets` bucket summaries
    *     (in-bucket breaks, first offset via `min_by`, last end via
    *     `max_by`) close the chain across boundaries on a frame of at
    *     most `buckets` rows — including t_off(first) = 0.
    *   - `n_missing` / `n_orphans`: corpus docs absent from the
    *     manifest / manifest rows whose document is gone (a delete
    *     apply that rewrote the corpus but not the manifest).
    *   - `n_dup_rows`: doc_ids holding MORE than one manifest row — a
    *     replayed [[packDelta]] append that the max-doc_id idempotence
    *     guard failed to swallow (also the reason
    *     the adjacency verdict can be trusted: with duplicates present
    *     the per-bucket `lead` order is ambiguous, so dup detection is
    *     its own explicit column, not a side effect).
    *   - `n_tok_mismatch`: token counts recomputed on the fixed
    *     splitmix64 hash sample (`sample`, the [[Audit.docSample]]
    *     draw) vs the stored rows, once per sampled doc — sound because
    *     n_tok depends only on the row's own document, so a healthy
    *     manifest's sample slice matches exactly.
    *
    * All violation counts are 0 on a healthy store — which is what the
    * DuckDB oracle pins, so any corruption, staleness, or drift fails
    * the hash gate. PackingSpec plants each corruption class and
    * asserts the audit catches it.
    */
  def manifestAuditDf(docs: DataFrame, manifest: DataFrame, sample: DataFrame,
      seqLen: Long = 512L, buckets: Int = 64): DataFrame = {
    val m = manifest.select(col("doc_id"), col("n_tok"), col("t_off"),
      col("seq_id"), col("n_seqs"))
    // prefix-sum adjacency, bucketed (the packSequences split); an
    // empty manifest has no buckets and sums to 0
    val bounds = m.agg(coalesce(min(col("doc_id")), lit(0L)),
      coalesce(max(col("doc_id")), lit(0L))).head()
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val width = math.max(1L, (hi - lo) / buckets + 1L)
    // ≤`buckets` summary rows: the one place an unpartitioned window is
    // sound (a bounded frame; pinned in PlanSpec's allowlist)
    val adjLeg = m
      .withColumn("bucket", ((col("doc_id") - lit(lo)) / lit(width)).cast("long"))
      .withColumn("nd", col("t_off") + col("n_tok") + lit(1L))
      .withColumn("nxt", lead(col("t_off"), 1).over(
        Window.partitionBy("bucket").orderBy("doc_id")))
      .groupBy(col("bucket"))
      .agg(Audit.sum0(Audit.flag(col("nxt").isNotNull && col("nxt") =!= col("nd")))
          .as("bad_in"),
        min_by(col("t_off"), col("doc_id")).as("first_off"),
        max_by(col("nd"), col("doc_id")).as("last_end"))
      .withColumn("prev_end", lag(col("last_end"), 1).over(Window.orderBy(col("bucket"))))
      .agg((Audit.sum0(col("bad_in")) + Audit.sum0(Audit.flag(
        coalesce(col("prev_end"), lit(0L)) =!= col("first_off")))).as("n_adjacency_bad"))
    Audit.keyedAuditDf(Seq("doc_id"), docs, m,
        Some(sample.select(col("doc_id"), nTok.as("n_tok_re"))),
        Seq("n_tok_mismatch" -> (col("n_tok").isNull || col("n_tok") =!= col("n_tok_re"))),
        Seq("total_cost" -> (col("n_tok") + 1L),
          "n_formula_bad" -> Audit.flag(formulaBad(seqLen))))
      .crossJoin(adjLeg)
      .select(col("n_store").as("n_rows"), col("total_cost"), col("n_formula_bad"),
        col("n_adjacency_bad"), col("n_missing"), col("n_orphans"),
        col("n_multi").as("n_dup_rows"), col("sample_n"), col("n_tok_mismatch"))
  }

  /** A row whose (seq_id, n_seqs) disagree with its own (t_off, n_tok). */
  private def formulaBad(seqLen: Long): Column =
    col("n_tok") < 0 || col("t_off") < 0 ||
      col("seq_id") =!= expr(s"t_off div $seqLen") ||
      col("n_seqs") =!= when(col("n_tok") === 0L, lit(0L))
        .otherwise(expr(s"(t_off + n_tok - 1) div $seqLen") - col("seq_id") + lit(1L))

  /** Driver entry: audit the staged (healthy) manifest artifact. */
  def qManifestAudit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    manifestAuditDf(docs,
      graft.ops.Publish.readLive(spark, ensureManifest(spark, dir)),
      Audit.docSample(docs))
  }

  /** Per-(JVM, corpus) staged PHYSICAL pack layout ([[writePacked]]) —
    * the shard-partitioned store a trainer reads; built once at ingest
    * cost, Bench pre-builds it untimed.
    */
  def ensurePackedStore(spark: SparkSession, dir: String): String =
    graft.ops.Scratch.fixture("packed_store", dir) { fixtureDir =>
      val docs = Tables.documents(spark, dir)
      val p = fixtureDir.resolve("packed").toString
      writePacked(docs, p)
      p
    }

  /** PACKED-STORE AUDIT — the physical shard layout member of the
    * store-audit family: [[manifestAuditDf]] trusts the COORDINATES,
    * this trusts the layout a trainer actually reads. One
    * [[Audit.keyedAuditDf]] pass on doc_id plus the shard spread:
    * volume; replay duplicates; coverage vs the corpus; the per-row
    * arithmetic invariant (seq_id/n_seqs from
    * t_off/n_tok — the manifest formula) plus the SHARD rule
    * (shard = seq_id div shardSeqs — a row filed in the wrong shard
    * directory serves the wrong trainer); and token counts re-derived
    * from the rows' own carried text on the fixed hash sample. All
    * violations zero on a healthy store, oracle-pinned.
    */
  def packedAuditDf(docs: DataFrame, packed: DataFrame, sample: DataFrame,
      seqLen: Long = 512L, shardSeqs: Long = 1000L): DataFrame = {
    val p = packed.select(col("doc_id"), col("n_tok"), col("t_off"),
      col("seq_id"), col("n_seqs"), col("shard").cast("long").as("shard"),
      col("text"))
    // the carried text IS the row's own payload: re-tokenize it (no
    // corpus join needed) on the sampled keys
    Audit.keyedAuditDf(Seq("doc_id"), docs, p, Some(sample.select(col("doc_id"))),
        Seq("n_tok_mismatch" -> (col("n_tok").isNull || col("n_tok") =!= nTok)),
        Seq("n_formula_bad" -> Audit.flag(formulaBad(seqLen)),
          "n_shard_bad" -> Audit.flag(col("shard") =!= expr(s"seq_id div $shardSeqs"))))
      .crossJoin(p.agg(countDistinct(col("shard")).as("n_shards")))
      .select(col("n_store").as("n_rows"), col("n_shards"), col("n_multi"),
        col("n_missing"), col("n_orphans"), col("n_formula_bad"),
        col("n_shard_bad"), col("sample_n"), col("n_tok_mismatch"))
  }

  def qPackedAudit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    packedAuditDf(docs,
      graft.ops.Publish.readLive(spark, ensurePackedStore(spark, dir)),
      Audit.docSample(docs))
  }

  def qPackSequences(spark: SparkSession, dir: String): DataFrame =
    packSequences(Tables.documents(spark, dir))

  def qPackProfile(spark: SparkSession, dir: String): DataFrame =
    packProfile(Tables.documents(spark, dir))

  def qPackByLang(spark: SparkSession, dir: String): DataFrame =
    packSequencesBy(Tables.documents(spark, dir), "lang")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pack_sequences" -> (qPackSequences _),
    "q_repack_delta" -> (qRepackDelta _),
    "q_manifest_served" -> (qManifestServed _),
    "q_pack_profile" -> (qPackProfile _),
    "q_pack_by_lang" -> (qPackByLang _),
    "q_manifest_audit" -> (qManifestAudit _),
    "q_packed_audit" -> (qPackedAudit _),
  )

  /** The manifest CTE chain with prefixable names (`x` avoids CTE-name
    * collisions when composed with other chains, e.g. the delete-impact
    * oracle) over a pluggable source relation (`src` — the full corpus
    * by default; the served-manifest oracle feeds the tombstone-filtered
    * corpus, so the pack FORMULA lives in exactly one place); ends in
    * `${x}p(doc_id, n_tok, t_off, seq_id, n_seqs)`.
    */
  private[ext] def packCteBody(x: String, src: String = "documents"): String =
    s"""${x}t AS (
       |  SELECT doc_id,
       |         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tok
       |  FROM $src),
       |${x}c AS (
       |  SELECT doc_id, n_tok,
       |         CAST(sum(n_tok + 1) OVER (ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |           - (n_tok + 1) AS BIGINT) AS t_off
       |  FROM ${x}t),
       |${x}p AS (
       |  SELECT doc_id, n_tok, t_off,
       |         t_off // 512 AS seq_id,
       |         CASE WHEN n_tok = 0 THEN 0
       |              ELSE (t_off + n_tok - 1) // 512 - t_off // 512 + 1 END AS n_seqs
       |  FROM ${x}c)""".stripMargin

  private[ext] val packCte = "WITH " + packCteBody("")

  val oracles: Map[String, String] = Map(
    // the same closed-form arithmetic over token counts (no closure,
    // no window): deleted-slice scalars + one fused total/prefix pass
    "q_repack_delta" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok
        |  FROM documents),
        |del AS (SELECT doc_id FROM documents WHERE source = 'src7'),
        |dd AS (SELECT min(t.doc_id) AS min_del_id,
        |              CAST(coalesce(sum(t.n_tok), 0) AS BIGINT) AS tokens_dropped,
        |              CAST(coalesce(sum(t.n_tok + 1), 0) AS BIGINT) AS cost_dropped
        |       FROM t JOIN del USING (doc_id)),
        |agg AS (SELECT
        |          CAST(sum(n_tok + 1) AS BIGINT) AS total,
        |          CAST(coalesce(sum(CASE WHEN t.doc_id < dd.min_del_id
        |                                 THEN n_tok + 1 END), 0) AS BIGINT) AS prefix_cost,
        |          CAST(count(CASE WHEN t.doc_id > dd.min_del_id
        |                           AND t.doc_id NOT IN (SELECT doc_id FROM del)
        |                          THEN 1 END) AS BIGINT) AS docs_shifted
        |        FROM t CROSS JOIN dd)
        |SELECT CASE WHEN dd.min_del_id IS NULL THEN (total + 511) // 512
        |            ELSE prefix_cost // 512 END AS first_affected_seq,
        |       (total + 511) // 512 AS n_seqs_before,
        |       CASE WHEN total - cost_dropped <= 0 THEN 0
        |            ELSE (total - cost_dropped + 511) // 512 END AS n_seqs_after,
        |       CASE WHEN total - cost_dropped <= 0 THEN 0
        |            ELSE (total - cost_dropped + 511) // 512 END
        |         - CASE WHEN dd.min_del_id IS NULL THEN (total + 511) // 512
        |                ELSE prefix_cost // 512 END AS n_seqs_reemitted,
        |       docs_shifted, tokens_dropped
        |FROM agg CROSS JOIN dd""".stripMargin,
    "q_pack_sequences" ->
      s"""$packCte
         |SELECT doc_id, n_tok, t_off, seq_id, n_seqs FROM p ORDER BY doc_id""".stripMargin,
    // the served manifest must equal the from-scratch pack of the
    // surviving corpus — the prefix pass-through + seeded suffix repack
    // is an implementation detail the oracle must not see
    "q_manifest_served" ->
      s"""WITH cut AS (SELECT (max(doc_id) + 1) * 9 // 10 AS c FROM documents),
         |del AS (SELECT doc_id FROM documents, cut
         |        WHERE source = 'src7' AND doc_id >= c),
         |survivors AS (SELECT * FROM documents
         |              WHERE doc_id NOT IN (SELECT doc_id FROM del)),
         |${packCteBody("", src = "survivors")}
         |SELECT doc_id, n_tok, t_off, seq_id, n_seqs FROM p ORDER BY doc_id""".stripMargin,
    "q_pack_profile" ->
      s"""$packCte
         |SELECT seq_id, count(*) AS n_docs_started,
         |       CAST(sum(n_tok) AS BIGINT) AS tok_started,
         |       min(doc_id) AS first_doc
         |FROM p GROUP BY seq_id ORDER BY seq_id""".stripMargin,
    "q_pack_by_lang" ->
      """WITH t AS (
        |  SELECT lang, doc_id,
        |         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT lang, doc_id, n_tok,
        |         CAST(sum(n_tok + 1) OVER (PARTITION BY lang ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           - (n_tok + 1) AS BIGINT) AS t_off
        |  FROM t)
        |SELECT lang, doc_id, n_tok, t_off,
        |       t_off // 512 AS seq_id,
        |       CASE WHEN n_tok = 0 THEN 0
        |            ELSE (t_off + n_tok - 1) // 512 - t_off // 512 + 1 END AS n_seqs
        |FROM c ORDER BY lang, doc_id""".stripMargin,
    // a healthy maintained manifest audits to all-zero violation counts
    // (pinned literals: any Spark-side nonzero fails the hash gate); the
    // corpus-derived columns and the sample rule are computed, mirroring
    // the Spark legs
    // healthy physical pack layout: volume from the corpus, the shard
    // count from the pack CTE's own coordinates, violations pinned zero
    "q_packed_audit" ->
      s"""WITH ${packCteBody("")},
         |${graft.functions.MixSql.hashSampleCtes("sw", "documents", "doc_id", 1024)}
         |SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_rows,
         |       CAST(count(DISTINCT seq_id // 1000) AS BIGINT) AS n_shards,
         |       CAST(0 AS BIGINT) AS n_multi,
         |       CAST(0 AS BIGINT) AS n_missing,
         |       CAST(0 AS BIGINT) AS n_orphans,
         |       CAST(0 AS BIGINT) AS n_formula_bad,
         |       CAST(0 AS BIGINT) AS n_shard_bad,
         |       (SELECT CAST(count(*) AS BIGINT) FROM swsamp) AS sample_n,
         |       CAST(0 AS BIGINT) AS n_tok_mismatch
         |FROM p""".stripMargin,
    "q_manifest_audit" ->
      s"""WITH ${packCteBody("")},
         |${graft.functions.MixSql.hashSampleCtes("sw", "documents", "doc_id", 1024)}
         |SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |       CAST(coalesce(sum(n_tok + 1), 0) AS BIGINT) AS total_cost,
         |       CAST(0 AS BIGINT) AS n_formula_bad,
         |       CAST(0 AS BIGINT) AS n_adjacency_bad,
         |       CAST(0 AS BIGINT) AS n_missing,
         |       CAST(0 AS BIGINT) AS n_orphans,
         |       CAST(0 AS BIGINT) AS n_dup_rows,
         |       (SELECT CAST(count(*) AS BIGINT) FROM swsamp) AS sample_n,
         |       CAST(0 AS BIGINT) AS n_tok_mismatch
         |FROM p""".stripMargin,
  )
}
