package graft.ext

import graft.SparkSuite
import org.apache.spark.sql.functions._

class ClusterSpec extends SparkSuite {
  import spark.implicits._

  test("connectedComponents labels each node with its component minimum") {
    // two paths, a triangle, and a 2-cycle through shared structure
    val edges = Seq(
      (1L, 2L), (2L, 3L),          // path 1-2-3
      (10L, 11L),                  // pair
      (20L, 21L), (21L, 22L), (22L, 20L), // triangle
    ).toDF("u", "v")
    val got = Cluster.connectedComponents(edges)
      .orderBy("id").as[(Long, Long)].collect()
    assert(got === Array(
      1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("connectedComponents converges past the 1-hop neighborhood (long chain)") {
    // a chain of diameter 7 requires multiple propagation rounds
    val edges = (1L until 8L).map(i => (i, i + 1)).toDF("u", "v")
    val labels = Cluster.connectedComponents(edges).as[(Long, Long)].collect().toMap
    assert(labels.size === 8)
    assert(labels.values.toSet === Set(1L))
  }

  test("connectedComponents handles edge duplicates and both orientations") {
    val edges = Seq((2L, 1L), (1L, 2L), (2L, 1L), (3L, 2L)).toDF("u", "v")
    val labels = Cluster.connectedComponents(edges).as[(Long, Long)].collect().toMap
    assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("connectedComponents and coreness return no rows for an empty edge frame") {
    // each round's changed count is observed inside its checkpoint job;
    // over an empty plan that observation must still complete
    val edges = Seq.empty[(Long, Long)].toDF("u", "v")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val counts = Future(
      (Cluster.connectedComponents(edges).count(), Cluster.coreness(edges).count()))
    assert(Await.result(counts, 5.minutes) === ((0L, 0L)))
  }

  test("connectedComponents with maxIter = 1 stops after one propagation round") {
    // first labels min(self, neighbours), then one round of neighbour
    // minima: the chain 1-..-8 moves each label two hops, no further
    val edges = (1L until 8L).map(i => (i, i + 1)).toDF("u", "v")
    val labels = Cluster.connectedComponents(edges, maxIter = 1)
      .as[(Long, Long)].collect().toMap
    assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 2L, 5L -> 3L,
      6L -> 4L, 7L -> 5L, 8L -> 6L))
  }

  test("connectedComponents matches a union-find reference on random graphs") {
    val rnd = new scala.util.Random(20260812L)
    for (_ <- 1 to 3) {
      val n = 60
      val es = Seq.fill(70)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // union-find reference
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(ra) = rb
      }
      val expected = es.flatMap(e => Seq(e._1, e._2)).distinct
        .map(v => v -> es.flatMap(e => Seq(e._1, e._2)).distinct
          .filter(u => find(u.toInt) == find(v.toInt)).min).toMap
      val got = Cluster.connectedComponents(es.toDF("u", "v"))
        .as[(Long, Long)].collect().toMap
      assert(got === expected)
    }
  }

  test("dedupCluster is consistent with the minhash pairs it clusters") {
    val dir = "/root/testdata/sf0.001"
    val clusters = Cluster.dedupCluster(spark, dir).collect()
    val byDoc = clusters.map(r => r.getLong(0) -> r.getLong(1)).toMap

    // every pair's endpoints land in the same cluster
    val pairs = Dedup.dedupMinhash(spark, dir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) => assert(byDoc(a) === byDoc(b), s"pair ($a,$b) split") }

    // cluster id is the minimum member; exactly one canonical row per cluster
    val members = clusters.groupBy(_.getLong(1))
    members.foreach { case (cid, rows) =>
      assert(rows.map(_.getLong(0)).min === cid)
      assert(rows.count(_.getBoolean(3)) === 1)
      // cluster_size matches the member count
      rows.foreach(r => assert(r.getInt(2) === rows.length))
    }

    // clustered docs == docs that appear in at least one pair
    val paired = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    assert(byDoc.keySet === paired)
  }

  test("pageRank: star center dominates, mass conserves, hand-computed tiny case") {
    import spark.implicits._
    // star: 0 - {1,2,3,4}; plus a detached edge 10-11
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L), (10L, 11L))
      .toDF("u", "v")
    val ranks = Cluster.pageRank(edges)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ranks.size === 7)
    // the hub out-ranks every leaf; leaves are symmetric
    assert(ranks(0L) > ranks(1L) * 2)
    assert(Seq(1L, 2L, 3L, 4L).map(ranks).distinct.size === 1)
    // the detached pair is symmetric and below the hub
    assert(ranks(10L) === ranks(11L) && ranks(10L) < ranks(0L))
    // no dangling nodes -> total mass stays 1
    assert(math.abs(ranks.values.sum - 1.0) < 1e-4)
    // hand-computed round 1 for the hub: 0.15/7 + 0.85*(4 * (1/7)/1)
    val r1Leaf = 0.15 / 7 + 0.85 * ((1.0 / 7) / 4)
    val r1Hub = 0.15 / 7 + 0.85 * (4 * ((1.0 / 7) / 1))
    val r2Hub = 0.15 / 7 + 0.85 * (4 * (r1Leaf / 1))
    val r3Hub = 0.15 / 7 + 0.85 *
      (4 * ((0.15 / 7 + 0.85 * (r1Hub / 4)) / 1))
    assert(math.abs(ranks(0L) - math.rint(r3Hub * 1e6) / 1e6) < 2e-6)
    assert(r2Hub > 0) // (documenting the recurrence; r3 uses r2's leaves)
  }

  test("cluster-safe split: no near-dup pair ever straddles splits") {
    val dir = "/root/testdata/sf0.001"
    val assigned = Cluster.splitClusterSafe(spark, dir)
    val bySplit = assigned.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySplit.keySet === Set("train", "val", "test"))
    // every near-dup pair lands in ONE split (the invariant the
    // q_split_leakage audit measures violations of)
    val splitOf = assigned.collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val pairs = Dedup.dedupMinhash(spark, dir)
      .select("doc_a", "doc_b").collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      assert(splitOf(r.getLong(0)) === splitOf(r.getLong(1)),
        s"pair (${r.getLong(0)}, ${r.getLong(1)}) straddles splits")
    }
    // docs sharing a component share the group key, and the group key
    // drives the split via the same rule as the per-doc assigner
    val groups = assigned.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    pairs.foreach { r =>
      assert(groups(r.getLong(0)) === groups(r.getLong(1)))
    }
  }

  test("triangleStats matches a brute-force count on random graphs") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    (0 until 3).foreach { trial =>
      val n = 14
      val edges = (for {
        a <- 0 until n; b <- (a + 1) until n
        if rng.nextDouble() < 0.25
      } yield (a.toLong, b.toLong)).toSeq
      val es = edges.toSet
      def connected(x: Long, y: Long) = es((x min y, x max y))
      val wantTri = (for {
        a <- 0 until n; b <- (a + 1) until n; c <- (b + 1) until n
        if connected(a, b) && connected(b, c) && connected(a, c)
      } yield (a.toLong, b.toLong, c.toLong)).toSeq
      val wantPerNode = wantTri.flatMap(t => Seq(t._1, t._2, t._3))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val wantDeg = edges.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val got = Cluster.triangleStats(edges.toDF("u", "v"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(got.map(_._1).toSet === wantDeg.keySet, s"trial=$trial nodes")
      got.foreach { case (node, deg, ntri) =>
        assert(deg === wantDeg(node), s"trial=$trial deg($node)")
        assert(ntri === wantPerNode.getOrElse(node, 0L), s"trial=$trial tri($node)")
      }
      assert(wantTri.nonEmpty, s"trial=$trial should have triangles")
    }
  }

  test("triangleStats handles the hub graph the naive wedge join dies on") {
    import spark.implicits._
    // star + one closing edge: exactly one triangle, hub degree 40
    val star = (1L to 40L).map(i => (0L, i))
    val edges = (star :+ (1L, 2L)).toDF("u", "v")
    val got = Cluster.triangleStats(edges).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got(0L) === (40L, 1L))
    assert(got(1L) === (2L, 1L))
    assert(got(2L) === (2L, 1L))
    assert(got(5L) === (1L, 0L))
  }

  test("coreness matches sequential peeling on random graphs") {
    import spark.implicits._
    val rng = new scala.util.Random(23)
    def peel(n: Int, edges: Set[(Long, Long)]): Map[Long, Long] = {
      var adj = edges.flatMap(e => Seq(e, (e._2, e._1)))
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).to(collection.mutable.Set) }
      val core = collection.mutable.Map.empty[Long, Long]
      var k = 1L
      while (adj.nonEmpty) {
        var again = true
        while (again) {
          val drop = adj.filter(_._2.size < k).keys.toSeq
          again = drop.nonEmpty
          drop.foreach { v =>
            core(v) = k - 1
            adj(v).foreach(u => if (adj.contains(u)) adj(u) -= v)
            adj -= v
          }
        }
        k += 1
      }
      core.toMap
    }
    (0 until 3).foreach { trial =>
      val n = 16
      val edges = (for {
        a <- 0 until n; b <- (a + 1) until n
        if rng.nextDouble() < 0.3
      } yield (a.toLong, b.toLong)).toSet
      val want = peel(n, edges)
      val got = Cluster.coreness(edges.toSeq.toDF("u", "v"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.keySet === want.keySet, s"trial=$trial")
      got.foreach { case (node, c) =>
        assert(c === want(node), s"trial=$trial node=$node")
      }
    }
  }

  test("coreness separates a cycle from a chain at equal degree") {
    import spark.implicits._
    // 5-cycle (all coreness 2) + 5-chain (all coreness 1) + a 4-clique
    val cycle = (0 until 5).map(i => (i.toLong, ((i + 1) % 5).toLong))
    val chain = (10 until 14).map(i => (i.toLong, (i + 1).toLong))
    val clique = for (a <- 20 until 24; b <- (a + 1) until 24) yield (a.toLong, b.toLong)
    val got = Cluster.coreness((cycle ++ chain ++ clique).toDF("u", "v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L to 4L).foreach(v => assert(got(v) === 2L, s"cycle node $v"))
    (10L to 14L).foreach(v => assert(got(v) === 1L, s"chain node $v"))
    (20L to 23L).foreach(v => assert(got(v) === 3L, s"clique node $v"))
  }

  test("policy gap isolates the chain member whose every partner arrived later") {
    import spark.implicits._
    // component {0,1,2} via pairs (0,2) and (1,2): doc 1 is non-min (CC
    // drops it) but its only direct partner, 2, is LATER — ingest keeps
    // it. Docs 2 (earlier partners 0 and 1) and 11 (earlier partner 10)
    // are dropped by BOTH rules; 0, 10, 20 are kept by both.
    val docs = Seq(0L, 1L, 2L, 10L, 11L, 20L)
      .map(i => (i, s"doc $i", 100L + i)).toDF("doc_id", "text", "n_chars")
    val pairs = Seq((0L, 2L), (1L, 2L), (10L, 11L)).toDF("doc_a", "doc_b")
    val got = Cluster.policyGapDf(docs, pairs).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    // ids 0,1,2 -> bucket 0; 10,11 -> buckets 4,5; 20 -> bucket 9
    assert(got(0) === ((3L, 2L, 1L, 1L, 101L)),
      "bucket 0: CC drops {1,2}, ingest drops {2}, gap = {1} carrying 101 chars")
    assert(got(5) === ((1L, 1L, 1L, 0L, 0L)), "doc 11: dropped by both, no gap")
    assert(got(9) === ((1L, 0L, 0L, 0L, 0L)), "doc 20: untouched")
    // the subset theorem, bucket-wise: gap = cc - ingest, never negative
    got.values.foreach { case (_, cc, ing, gap, _) =>
      assert(gap === cc - ing && gap >= 0L)
    }
  }

  test("policy gap matches an independent reimplementation on random pair sets") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260815L)
    for (trial <- 1 to 3) {
      val n = 50
      val docs = (0 until n).map(i => (i.toLong, s"d$i", 10L + i))
        .toDF("doc_id", "text", "n_chars")
      val pairs = Seq.fill(30)((rnd.nextInt(n), rnd.nextInt(n)))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b).toLong, math.max(a, b).toLong) }
        .distinct
      // independent reference: union-find CC + the direct later-endpoint rule
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val inComp = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      val compMin = inComp.map(v =>
        v -> inComp.filter(u => find(u.toInt) == find(v.toInt)).min).toMap
      val ccDrop = inComp.filter(v => compMin(v) != v).toSet
      val ingDrop = pairs.map(_._2).toSet
      def bucket(id: Long) = (id * 10 / n).toInt // lo=0, hi=n-1
      val expected = (0 until 10).map { bkt =>
        val ids = (0L until n.toLong).filter(id => bucket(id) == bkt)
        val gap = ids.filter(id => ccDrop(id) && !ingDrop(id))
        (bkt, ids.size.toLong, ids.count(ccDrop).toLong,
          ids.count(ingDrop).toLong, gap.size.toLong, gap.map(10L + _).sum)
      }
      val got = Cluster.policyGapDf(docs, pairs.toDF("doc_a", "doc_b")).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).sortBy(_._1).toSeq
      assert(got === expected, s"trial=$trial pairs=$pairs")
    }
  }

  test("policy gap on the shared corpus: drop sets nest, totals anchor dedup_cluster") {
    val dir = "/root/testdata/sf0.001"
    val got = Cluster.dedupPolicyGap(spark, dir).collect()
    val totCc = got.map(_.getLong(2)).sum
    val totIng = got.map(_.getLong(3)).sum
    val totGap = got.map(_.getLong(4)).sum
    assert(totGap === totCc - totIng && totGap >= 0L)
    // n_cc_dropped must equal the cluster query's non-canonical count
    val nonCanon = Cluster.dedupCluster(spark, dir).collect()
      .count(r => !r.getBoolean(3))
    assert(totCc === nonCanon.toLong)
    assert(got.map(_.getLong(1)).sum ===
      graft.Tables.documents(spark, dir).count())
  }
}
