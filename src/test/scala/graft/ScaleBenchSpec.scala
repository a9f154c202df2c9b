package graft

import org.apache.spark.sql.functions._

/** The scale-rehearsal expansion must be deterministic and
  * workload-preserving — BENCH_SCALE.md's curves are only meaningful if
  * replicas keep the intra-replica duplicate topology without
  * introducing cross-replica near-dups.
  */
class ScaleBenchSpec extends SparkSuite {

  val dir = "/root/testdata/sf0.001"

  test("document expansion: factor-fold rows, unique ids, replica 0 verbatim") {
    val src = Tables.documents(spark, dir)
    val x3 = ScaleBench.expandDocuments(spark, dir, 3)
    assert(x3.count() === src.count() * 3)
    assert(x3.select("doc_id").distinct().count() === src.count() * 3)
    // replica 0 is the identity rotation — byte-identical to the source
    val r0 = x3.filter(col("doc_id") < 10000000L)
    assert(r0.exceptAll(src).count() === 0 && src.exceptAll(r0).count() === 0)
    // deterministic across invocations
    val again = ScaleBench.expandDocuments(spark, dir, 3)
    assert(x3.exceptAll(again).count() === 0)
  }

  test("document expansion preserves length and whitespace, rotates letters") {
    val x2 = ScaleBench.expandDocuments(spark, dir, 2)
    val pairs = x2.filter(col("doc_id") % 10000000L === 7)
      .select(pmod(col("doc_id"), lit(10000000L)).as("base"),
        (col("doc_id") >= 10000000L).as("rot"), col("text"), col("n_chars"))
      .collect().groupBy(_.getLong(0)).values.head.sortBy(_.getBoolean(1))
    val (orig, rot) = (pairs(0).getString(2), pairs(1).getString(2))
    assert(orig.length === rot.length)
    assert(orig.zip(rot).forall { case (a, b) =>
      if (a.isLetter && a.isLower) b === (((a - 'a' + 1) % 26) + 'a').toChar
      else b === a // whitespace, digits, punctuation untouched
    })
  }

  test("affine permutations: 312 pairwise distinct, identity at 0, rotations below 26") {
    val perms = (0 until 312).map(ScaleBench.affinePerm)
    assert(perms.distinct.size === 312)
    assert(perms(0) === "abcdefghijklmnopqrstuvwxyz")
    assert(perms(1) === "bcdefghijklmnopqrstuvwxyza")
    // every map is a true permutation of the alphabet
    perms.foreach(p => assert(p.sorted === "abcdefghijklmnopqrstuvwxyz"))
    // the first rotation-collision points of the old design now differ
    assert(Seq(perms(0), perms(26), perms(52)).distinct.size === 3)
  }

  test("beyond x26 replicas carry no cross-replica exact duplicates") {
    // replicas 0, 26, 52 collided under plain rotation; under the affine
    // permutation each text maps to a distinct string
    val x = ScaleBench.expandDocuments(spark, dir, 53)
      .filter(col("doc_id").isin(7L, 26L * 10000000L + 7L, 52L * 10000000L + 7L))
      .select("text").collect().map(_.getString(0))
    assert(x.length === 3 && x.distinct.length === 3)
  }

  test("events expansion of an empty source is empty, not an NPE") {
    // the id-collision guard reads max(id), which is NULL on an empty
    // source — that must fold into a pass (no rows, no collision)
    val tmp = tempDir("graft_empty_events").toString
    Tables.events(spark, dir).limit(0).write.parquet(s"$tmp/events.parquet")
    assert(ScaleBench.expandEvents(spark, tmp, 2).count() === 0L)
  }

  test("embedding expansion: distinct perturbed points, same dimensionality") {
    val src = Tables.embeddings(spark, dir)
    val x2 = ScaleBench.expandEmbeddings(spark, dir, 2)
    assert(x2.count() === src.count() * 2)
    val dims = x2.select(size(col("embedding")).as("d")).distinct().collect()
    assert(dims.map(_.getInt(0)).toSeq ===
      src.select(size(col("embedding"))).distinct().collect().map(_.getInt(0)).toSeq)
    // replica 1 vectors differ from their replica-0 source (no exact dups)
    val joined = x2.filter(col("vec_id") >= 10000000L)
      .select((col("vec_id") - 10000000L).as("vec_id"), col("embedding").as("e1"))
      .join(src.select(col("vec_id"), col("embedding").as("e0")), "vec_id")
    assert(joined.filter(col("e0") === col("e1")).count() === 0)
    // the transform is an isometry: component magnitudes are the same
    // multiset (dimension rotation + sign flips, no scaling)
    val pair = joined.limit(5).collect()
    pair.foreach { r =>
      val e0 = r.getSeq[Float](2).map(math.abs).sorted
      val e1 = r.getSeq[Float](1).map(math.abs).sorted
      assert(e0 === e1)
    }
  }
}
