package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Duplicate-cluster resolution — the step a dedup pipeline runs AFTER
  * pairwise near-dup detection: near-dup pairs form a graph, connected
  * components of that graph are the duplicate clusters, and one canonical
  * document (the minimum id) survives per cluster. Pair emission alone
  * over-deletes (a~b, b~c without a~c must still collapse to ONE
  * survivor, not two).
  *
  * One graph layer serves every entry here:
  *   - [[symmetric]] is the one undirected edge frame: both orientations
  *     of each edge from ONE scan of the input (an explode, not a union
  *     that reads it twice), deduplicated and materialized once.
  *     Components, PageRank and coreness all start from it;
  *     [[triangleStats]] alone keeps duplicate edges (its counts are
  *     defined over the input multiset).
  *   - [[converge]] is the one fixpoint loop: each round is ONE
  *     checkpoint job, and the round's changed count rides along in
  *     that job through `Dataset.observe` — no separate count job.
  *   - [[clusters]] is the one pair-graph entry: (`doc_id`,
  *     `cluster_id`) from a (`doc_a`, `doc_b`) pair table, and
  *     [[nonCanonical]] is the one "dropped members" rule.
  *   - [[closures]] closes a takedown's before and after pair tables
  *     concurrently; the re-election delta and the delete-impact report
  *     both read it.
  *
  * Components are computed by hash-min label propagation: every node
  * starts labeled with the min of itself and its neighbors, and each
  * round replaces a label with the min label among neighbors. The label
  * set is monotone non-increasing and converges to the component minimum
  * in at most graph-diameter rounds (duplicate clusters are
  * near-cliques, so 2-3 rounds in practice). Each round is one
  * edge⋈label join + a groupBy-min — both shuffle on node id, nothing
  * ever materializes a component in one task, so the algorithm scales to
  * corpus-sized graphs. `localCheckpoint` truncates the growing lineage
  * each round (iterative plans otherwise re-execute the whole history).
  */
object Cluster {

  /** The undirected edge set of an edge list (`u`, `v`): every edge in
    * both orientations, distinct, materialized once. The input is read
    * by one scan — when it is the verified near-dup pairs, a second read
    * would replay their whole pipeline.
    */
  def symmetric(edges: DataFrame): DataFrame =
    edges
      .select(explode(array(struct(col("u"), col("v")),
        struct(col("v").as("u"), col("u").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .distinct()
      .localCheckpoint()

  /** Iterates `step` from `init` until a round changes nothing or
    * `maxIter` steps ran (a round advances `per` steps). `step` returns
    * the next state plus a boolean `changed` column; the changed rows
    * are counted through `Dataset.observe` inside the round's own
    * checkpoint job, so convergence costs no job of its own.
    */
  private def converge(init: DataFrame, maxIter: Int, per: Int)(
      step: DataFrame => DataFrame): DataFrame = {
    var state = init
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val obs = Observation()
      state = step(state).observe(obs, count_if(col("changed")).as("n"))
        .drop("changed").localCheckpoint()
      changed = obs.get("n").asInstanceOf[Long]
      iter += per
    }
    state
  }

  /** Connected components of an undirected edge list (`u`, `v` columns).
    * Returns (`id`, `label`) where `label` is the smallest node id
    * reachable from `id`. Only nodes with at least one edge appear
    * (isolated docs are not in any duplicate cluster).
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    val sym = symmetric(edges)
    // the first labels are not materialized on their own: round 1
    // reads them straight from the checkpointed edge frame
    val init = sym.groupBy(col("u").as("id"))
      .agg(min(col("v")).as("nbr_min"))
      .select(col("id"), least(col("id"), col("nbr_min")).as("label"))
    converge(init, maxIter, 1) { labels =>
      // min over neighbors' labels; every node has >=1 neighbor, so the
      // inner joins lose nothing
      val nbrMin = sym
        .join(labels.select(col("id").as("v"), col("label")), "v")
        .groupBy(col("u").as("id"))
        .agg(min(col("label")).as("nbr_min"))
      labels.join(nbrMin, "id")
        .select(col("id"), least(col("label"), col("nbr_min")).as("label"),
          (col("nbr_min") < col("label")).as("changed"))
    }
  }

  private def pairEdges(pairs: DataFrame): DataFrame =
    pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))

  /** The duplicate clusters of a pair table (`doc_a`, `doc_b`): one row
    * (`doc_id`, `cluster_id`) per paired document, `cluster_id` its
    * component's minimum member.
    */
  def clusters(pairs: DataFrame): DataFrame =
    connectedComponents(pairEdges(pairs))
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))

  /** The members a batch rebuild drops: every clustered document that is
    * not its cluster's canonical (minimum) member.
    */
  def nonCanonical(clusters: DataFrame): DataFrame =
    clusters.filter(col("doc_id") =!= col("cluster_id"))

  /** The closures of one takedown: [[clusters]] over the pair table
    * before the delete and over the surviving pairs after it. The two
    * are independent iterative jobs over checkpointed pair tables, so
    * they run concurrently.
    */
  def closures(before: DataFrame, after: DataFrame): (DataFrame, DataFrame) = {
    val Seq(lb, la) = graft.ops.Par.all(Seq(
      () => graft.ops.Timing.step("cc:before")(clusters(before)),
      () => graft.ops.Timing.step("cc:after")(clusters(after))))
    (lb, la)
  }

  /** Driver-contract query: duplicate clusters over the MinHash near-dup
    * pairs (word-3-gram jaccard >= 0.8), one row per clustered document
    * with its cluster id (min member), cluster size, and whether it is
    * the canonical survivor. Oracle: DuckDB recursive-CTE transitive
    * closure over the exact all-pairs jaccard truth.
    */
  def dedupCluster(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("cluster_id"))
    clusters(Dedup.verifiedPairs(spark, dir))
      .withColumn("cluster_size", count(lit(1)).over(w).cast("int"))
      .withColumn("is_canonical", col("doc_id") === col("cluster_id"))
      .orderBy("cluster_id", "doc_id")
  }

  /** The materialized deduplicated corpus: every document except the
    * non-canonical members of duplicate clusters — the anti join that an
    * actual corpus build ships. The corpus is scanned exactly once; the
    * join plan is left to AQE on purpose: when the dup-member set is
    * small it broadcasts at runtime, and on a heavily-duplicated corpus
    * (billions of dropped ids — far past broadcast size) it degrades to
    * the correct shuffle-on-id anti join.
    */
  def dedupSurvivors(spark: SparkSession, dir: String): DataFrame = {
    val dropped = nonCanonical(clusters(Dedup.verifiedPairs(spark, dir)))
      .select(col("doc_id"))
    graft.Tables.documents(spark, dir)
      .join(dropped, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "n_chars")
      .orderBy("doc_id")
  }

  /** Fixed-iteration PageRank over an undirected edge list — the graph
    * centrality pass (here: which documents sit at the center of
    * duplicate neighborhoods; on a web corpus: the classic quality
    * prior). THREE unrolled iterations at damping 0.85, which makes the
    * computation a deterministic dataflow both engines can evaluate in
    * lockstep — the oracle unrolls the same three rounds as CTEs.
    *
    * Parity discipline: per-edge contributions rank/deg are quantized
    * to DECIMAL(18,12) BEFORE the per-target sum (double sums associate
    * differently across engines; decimal sums are exact — the
    * embedStats pattern), and the damping constants are written as the
    * literal doubles 0.15/0.85 on both sides (never 1−0.85, which is a
    * DIFFERENT double). Each round is one edge⋈rank join + a
    * groupBy-sum, both shuffling on node id — the standard distributed
    * PageRank shape, lineage-truncated per round like
    * [[connectedComponents]]. No dangling-mass term: symmetric edges
    * give every node out-degree ≥ 1.
    */
  def pageRank(edges: DataFrame, iterations: Int = 3): DataFrame = {
    val d12 = org.apache.spark.sql.types.DataTypes.createDecimalType(18, 12)
    val sym = symmetric(edges)
    val deg = sym.groupBy(col("u").as("id")).agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    // bounded driver scalar (one long), like the ntile partition counts
    val nNodes = deg.count()
    var state = deg.select(col("id"), col("deg"),
      (lit(1.0) / lit(nNodes)).as("rank"))
    for (_ <- 1 to iterations) {
      val contribs = sym
        .join(state.select(col("id").as("u"), col("deg"), col("rank")), "u")
        .select(col("v").as("id"), (col("rank") / col("deg")).cast(d12).as("c"))
      val sums = contribs.groupBy(col("id")).agg(sum(col("c")).as("csum"))
      state = deg.join(sums, Seq("id"), "left")
        .select(col("id"), col("deg"),
          (lit(0.15) / lit(nNodes) +
            lit(0.85) * coalesce(col("csum").cast("double"), lit(0.0))).as("rank"))
        .localCheckpoint()
    }
    state.select(col("id").as("doc_id"), round(col("rank"), 6).as("pagerank"))
      .orderBy("doc_id")
  }

  def qPageRank(spark: SparkSession, dir: String): DataFrame =
    pageRank(pairEdges(Dedup.verifiedPairs(spark, dir)))

  /** Cluster-safe train/val/test split — the constructive counterpart to
    * the `q_split_leakage` AUDIT: instead of measuring how many near-dup
    * pairs straddle a per-document split, assign the split at the
    * duplicate-CLUSTER level so straddling is impossible by construction.
    * Every document's group key is its connected-component label (itself
    * if unclustered); the split comes from the same deterministic
    * md5-bucket rule as `q_split_assign`, applied to the group key, so a
    * near-duplicate of a training document can never land in test.
    *
    * Scale shape: the label table is bounded by CLUSTERED docs (a small
    * fraction of the corpus), so the left join AQE-broadcasts on clean
    * corpora and degrades to a shuffle-on-id join on heavily duplicated
    * ones; the split itself is a pure map over the group key.
    */
  def splitClusterSafe(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.documents(spark, dir)
      .select(col("doc_id"))
      .join(clusters(Dedup.verifiedPairs(spark, dir)), Seq("doc_id"), "left")
      .withColumn("group_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("split", Curation.splitAssign(col("group_id")))
      .select("doc_id", "group_id", "split")
      .orderBy("doc_id")

  /** Per-node triangle census over an undirected edge list (one row per
    * edge, u < v): degree and the number of triangles each node closes —
    * the local-density signal that separates a tight duplicate clique
    * from a chain of borderline matches at the same component size.
    *
    * Scale shape — the textbook wedge join (`e1.v = e2.u`) fans out
    * quadratically in the degree of a hub node. This implementation uses
    * the DEGREE ORIENTATION (compact-forward): edges point from
    * lower-(deg, id) to higher-(deg, id), every triangle is generated
    * exactly once at its lowest-ranked vertex, and per-vertex out-degree
    * is O(√m) on any graph — so the wedge join's fan-out is bounded no
    * matter how skewed the degree distribution. Wedges close via one
    * equi-join back to the oriented edges; per-node counts are one
    * explode + count. The oracle uses the plain id-orientation (the
    * triangle SET is orientation-invariant; only the join cost isn't).
    */
  def triangleStats(edges: DataFrame): DataFrame = {
    val fwd = edges.select(col("u"), col("v"))
    val sym = fwd.union(fwd.select(col("v").as("u"), col("u").as("v")))
    val deg = sym.groupBy("u").agg(count(lit(1)).as("deg"))
      .select(col("u").as("node"), col("deg"))
    val rk = deg.select(col("node"), struct(col("deg"), col("node")).as("rk"))
    val oriented = sym
      .join(rk.select(col("node").as("u"), col("rk").as("rk_u")), "u")
      .join(rk.select(col("node").as("v"), col("rk").as("rk_v")), "v")
      .filter(col("rk_u") < col("rk_v"))
      .select(col("u"), col("v"), col("rk_v"))
    // wedge legs ordered by RANK (the orientation key), so the closing
    // edge is guaranteed to be oriented b -> c
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.u") === col("e2.u") && col("e1.rk_v") < col("e2.rk_v"))
      .select(col("e1.v").as("b"), col("e2.v").as("c"), col("e1.u").as("a"))
    val tris = wedges.join(
      oriented.select(col("u").as("b"), col("v").as("c")), Seq("b", "c"))
    val perNode = tris
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node").as("doc_id"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .orderBy("doc_id")
  }

  def qTriangles(spark: SparkSession, dir: String): DataFrame =
    // the pair table is the BOUNDED near-dup output — materialize it
    // once: triangleStats references its edges ~20 times (sym, deg,
    // orientation, both wedge legs, the closing join), and without the
    // checkpoint each reference replays the whole MinHash candidate
    // pipeline (measured: 41 Generate nodes in the final plan)
    triangleStats(pairEdges(Dedup.verifiedPairs(spark, dir)).localCheckpoint())

  /** Per-node CORENESS (the largest k such that the node survives in the
    * k-core) via iterative h-index refinement (Montresor et al., the
    * distributed formulation): every node starts at its degree and
    * repeatedly lowers its estimate to the h-index of its neighbors'
    * estimates; the fixpoint is exactly the coreness. The sequential
    * peeling algorithm is inherently ordered (remove ALL current minimum-
    * degree nodes, repeat) — this local form is what distributes: each
    * round is one edge⋈estimate join + per-node aggregation, estimates
    * only ever DECREASE, and convergence is bounded by the coreness
    * range. The h-index itself is computed in-row over the sorted
    * neighbor-estimate array (degree-bounded; a pathological hub's array
    * is its degree, the same bound the CC/label-propagation rounds
    * already carry).
    *
    * Separates structure the component/triangle views can't: a 2-core
    * cycle and a tree have identical degree profiles but coreness 2 vs 1.
    */
  def coreness(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    val sym = symmetric(edges)
    // h-index of a desc-sorted array: values non-increasing and ranks
    // increasing, so "value >= rank" holds on a prefix — its size is h
    def hIndex(arr: Column) =
      size(filter(
        zip_with(sort_array(arr, asc = false),
          sequence(lit(1L), size(arr).cast("long")), (x, i) => x >= i),
        b => b))
    def refine(cur: DataFrame) = sym
      .join(cur.select(col("id").as("v"), col("c")), "v")
      .groupBy(col("u").as("id"))
      .agg(collect_list(col("c")).as("nbr"))
      .join(cur, "id")
      .withColumn("h", hIndex(col("nbr")).cast("long"))
      .select(col("id"), col("deg"), least(col("c"), col("h")).as("c"),
        (col("h") < col("c")).as("changed"))
    val init = sym.groupBy(col("u").as("id"))
      .agg(count(lit(1)).cast("long").as("deg"))
      .select(col("id"), col("deg"), col("deg").as("c"))
    // TWO refinement steps per materialization/convergence check: the
    // fixpoint is reached identically (estimates only decrease, an
    // extra step past convergence is a no-op), and each checkpoint is a
    // fixed per-round job cost that dominates wall time on small
    // diameters — halving the rounds halves it.
    converge(init, maxIter, 2)(est => refine(refine(est)))
      .select(col("id"), col("c").as("coreness"), col("deg"))
  }

  def qKcore(spark: SparkSession, dir: String): DataFrame =
    coreness(pairEdges(Dedup.verifiedPairs(spark, dir)))
      .select(col("id").as("doc_id"), col("deg"), col("coreness"))
      .orderBy("doc_id")

  /** The two drop rules over one canonical pair table, shared by
    * [[policyGapDf]] and [[reconcileDf]]: ingest-dropped (`doc_id`, the
    * distinct later endpoints) and batch-dropped (`doc_id`,
    * `cluster_id`, the [[nonCanonical]] members). The orientation is
    * canonicalized HERE (least/greatest + distinct, the probeFrom rule):
    * the later-endpoint rule and the ingest ⊆ CC theorem both require
    * doc_a < doc_b, and while every internal producer complies, these
    * are public df-level APIs — a reversed or symmetric pair frame would
    * otherwise yield silently wrong gaps. The canonical table is
    * pair-sized and checkpointed, so the ingest rule does not replay the
    * pair pipeline the closure has already read.
    */
  private def dropRules(pairs: DataFrame): (DataFrame, DataFrame) = {
    val p = pairs.select(
        least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
      .distinct()
      .localCheckpoint()
    (p.select(col("doc_b").as("doc_id")).distinct(), nonCanonical(clusters(p)))
  }

  /** Near-dup POLICY-GAP report — the measured cost of the divergence
    * [[graft.streaming.Streaming.qStreamCorpusBuild]] documents and
    * StreamingSpec bounds: the ingest-time drop rule (a document is
    * dropped iff it is the LATER endpoint of a verified pair — the only
    * rule an incremental pipeline can enforce without retroactive
    * membership changes) versus the batch rule (non-min member of its
    * connected component). Ingest-dropped ⊆ CC-dropped is a theorem
    * (an earlier direct partner makes a doc non-min in its component),
    * so the gap is one-sided: documents a batch rebuild would drop that
    * ingest keeps — exactly the transitive-chain members whose every
    * direct partner arrived LATER. Per decile bucket this emits both
    * policies' drop counts, the gap count, and the gap documents' total
    * chars — the data volume an ingest-built corpus carries beyond its
    * batch-rebuilt twin, i.e. the price of never retracting an accept.
    *
    * 100 TB shape: both drop sets derive from the SAME verified pair
    * table the dedup pipeline already produces (pair-table-sized, not
    * corpus-sized); the corpus appears once, in the final per-bucket
    * count join against two id sets AQE broadcasts when small and
    * shuffles when not ([[dedupSurvivors]]'s reasoning).
    */
  def policyGapDf(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val (ingest, batch) = dropRules(pairs)
    val ingestDropped = ingest.withColumn("ing", lit(1))
    val ccDropped = batch.select(col("doc_id")).withColumn("cc", lit(1))
    Text.docBuckets(docs).select(col("doc_id"), col("n_chars"), col("bucket"))
      .join(ingestDropped, Seq("doc_id"), "left")
      .join(ccDropped, Seq("doc_id"), "left")
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(coalesce(col("cc"), lit(0))).as("n_cc_dropped"),
        sum(coalesce(col("ing"), lit(0))).as("n_ingest_dropped"),
        sum(when(col("cc") === 1 && col("ing").isNull, 1).otherwise(0)).as("n_gap"),
        sum(when(col("cc") === 1 && col("ing").isNull, col("n_chars"))
          .otherwise(0L)).as("gap_chars"))
      .orderBy("bucket")
  }

  def dedupPolicyGap(spark: SparkSession, dir: String): DataFrame =
    policyGapDf(graft.Tables.documents(spark, dir),
      Dedup.verifiedPairs(spark, dir))

  /** Ingest→batch RECONCILIATION — the operator that CLOSES the gap
    * [[policyGapDf]] prices: the retraction list an ingest pipeline
    * applies periodically so its corpus converges to the batch rebuild.
    * One row per GAP document — a transitive-chain member whose every
    * direct partner arrived later, so the ingest-time later-endpoint
    * rule kept it while a batch rebuild's connected-component rule
    * drops it — with its cluster id (the canonical member whose
    * election the retraction restores) and chars (the reclaimed
    * volume). Because ingest-dropped ⊆ CC-dropped (the [[policyGapDf]]
    * theorem), applying exactly these retractions makes
    * ingest-kept == batch survivors — ExtSpec asserts the identity at
    * every decile of a replayed arrival, with the pair table maintained
    * incrementally ([[Dedup.pairsArtifactAppend]]).
    *
    * 100 TB shape: the closure and the anti join run on the (pair-sized,
    * canonicalized, checkpointed) pair table; the corpus appears once,
    * in the final inner join fetching n_chars for the gap-sized result
    * — AQE broadcasts the gap side when small and shuffles when not.
    */
  def reconcileDf(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val (ingest, batch) = dropRules(pairs)
    val gap = batch.join(ingest, Seq("doc_id"), "left_anti")
    gap.join(docs.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      .select(col("doc_id"), col("cluster_id"), col("n_chars"))
      .orderBy("doc_id")
  }

  def qReconcile(spark: SparkSession, dir: String): DataFrame =
    reconcileDf(graft.Tables.documents(spark, dir),
      Dedup.verifiedPairs(spark, dir))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_reconcile" -> (qReconcile _),
    // the apply lives with the state it mutates (Dedup); registered
    // here (and only here) because its oracle composes this file's
    // closure fragments
    "q_delete_apply" -> (Dedup.qDeleteApply _),
    // the tombstone twin: same delete set, same delta, same oracle —
    // computed from merged-on-read views with NO store rewrite
    "q_delete_tombstone" -> (Dedup.qDeleteTombstone _),
    "dedup_policy_gap" -> (dedupPolicyGap _),
    "dedup_cluster" -> (dedupCluster _),
    "dedup_survivors" -> (dedupSurvivors _),
    "q_pagerank" -> (qPageRank _),
    "split_cluster_safe" -> (splitClusterSafe _),
    "q_triangles" -> (qTriangles _),
    "q_kcore" -> (qKcore _),
  )

  /** Unrolled 3-iteration PageRank as CTE chain (see [[pageRank]]). */
  private lazy val pagerankSql: String = {
    val rounds = (1 to 3).map { i =>
      s"""c$i AS (SELECT e.v AS id, sum(CAST(r.rank / r.deg AS DECIMAL(18,12))) AS csum
         |       FROM edges e JOIN r${i - 1} r ON e.u = r.id GROUP BY 1),
         |r$i AS (SELECT d.id AS id, d.deg AS deg,
         |              CAST(0.15 AS DOUBLE) / nn + CAST(0.85 AS DOUBLE) * coalesce(CAST(csum AS DOUBLE), 0) AS rank
         |       FROM deg d LEFT JOIN c$i ON d.id = c$i.id CROSS JOIN n)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${Dedup.minhashPairsCte},
       |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |deg AS (SELECT u AS id, count(*) AS deg FROM edges GROUP BY 1),
       |n AS (SELECT count(*) AS nn FROM deg),
       |r0 AS (SELECT id, deg, CAST(1 AS DOUBLE) / nn AS rank FROM deg CROSS JOIN n),
       |$rounds
       |SELECT id AS doc_id, round(rank, 6) AS pagerank FROM r3 ORDER BY doc_id""".stripMargin
  }

  /** Unrolled h-index refinement — the SAME fixpoint [[coreness]] runs,
    * as a CTE chain (the peeling formulation is inherently sequential;
    * the refinement rounds are plain joins+windows, so they unroll like
    * [[pagerankSql]]). 16 rounds is comfortably past convergence on the
    * sf0.01 graph (verified: round 15 == round 16 == the Spark
    * fixpoint); estimates only decrease, so extra rounds are no-ops
    * once converged. Every rN is MATERIALIZED: each round references
    * its predecessor twice (neighbor estimates + own previous value),
    * and an inlining engine would otherwise expand the chain
    * exponentially.
    */
  private lazy val kcoreSql: String = {
    val rounds = (1 to 16).map { i =>
      s"""nbr$i AS (SELECT e.u AS id, r${i - 1}.c AS c,
         |  row_number() OVER (PARTITION BY e.u ORDER BY r${i - 1}.c DESC) AS rn
         |  FROM edges e JOIN r${i - 1} ON e.v = r${i - 1}.id),
         |h$i AS (SELECT id, count(*) FILTER (WHERE c >= rn) AS h FROM nbr$i GROUP BY id),
         |r$i AS MATERIALIZED (SELECT r${i - 1}.id, least(r${i - 1}.c, coalesce(h$i.h, 0)) AS c
         |  FROM r${i - 1} LEFT JOIN h$i USING (id))""".stripMargin
    }.mkString(",\n")
    s"""WITH ${Dedup.minhashPairsCte},
       |edges AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |r0 AS MATERIALIZED (SELECT u AS id, count(*) AS c FROM edges GROUP BY 1),
       |$rounds
       |SELECT r16.id AS doc_id, r0.c AS deg, r16.c AS coreness
       |FROM r16 JOIN r0 ON r16.id = r0.id ORDER BY doc_id""".stripMargin
  }

  /** DuckDB transitive-closure fragment over [[Dedup.minhashPairsCte]]'s
    * `pairs`: symmetric `edges`, recursive `reach`, and `lbl(doc_id,
    * cluster_id)` labeling every clustered doc with its min member. ONE
    * definition shared by the dedup_cluster / dedup_survivors /
    * split_cluster_safe oracles and the corpus-build funnel
    * ([[Curation]]), so the cluster semantics cannot drift between the
    * stage oracles and the composition that claims to reuse them.
    */
  private[ext] def closureCtesFor(pairsSrc: String, p: String): String =
    s"""${p}edges AS (
       |  SELECT doc_a AS u, doc_b AS v FROM $pairsSrc
       |  UNION SELECT doc_b, doc_a FROM $pairsSrc),
       |${p}reach AS (
       |  SELECT u, v FROM ${p}edges
       |  UNION SELECT r.u, e.v FROM ${p}reach r JOIN ${p}edges e ON r.v = e.u),
       |${p}lbl AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id
       |        FROM ${p}reach GROUP BY u)""".stripMargin

  private[ext] val closureCtes: String = closureCtesFor("pairs", "")

  /** The re-election delta: labels from the closure over all pairs vs
    * the closure over surviving pairs (deleting only removes edges, so
    * the delta is exactly the label changes among surviving members).
    * ONE definition for both takedown forms — the physical rewrite
    * (q_delete_apply) and the tombstone merge-on-read twin
    * (q_delete_tombstone) must emit identical deltas.
    */
  private lazy val deleteDeltaSql: String =
    s"""WITH RECURSIVE ${Dedup.minhashPairsCte},
       |$closureCtes,
       |del AS (SELECT doc_id FROM documents WHERE source = 'src7'),
       |spr AS (SELECT doc_a, doc_b FROM pairs
       |        WHERE doc_a NOT IN (SELECT doc_id FROM del)
       |          AND doc_b NOT IN (SELECT doc_id FROM del)),
       |${closureCtesFor("spr", "s")}
       |SELECT l.doc_id AS doc_id, l.cluster_id AS old_cluster_id,
       |       coalesce(sl.cluster_id, l.doc_id) AS new_cluster_id
       |FROM lbl l
       |LEFT JOIN slbl sl ON sl.doc_id = l.doc_id
       |WHERE l.doc_id NOT IN (SELECT doc_id FROM del)
       |  AND l.cluster_id <> coalesce(sl.cluster_id, l.doc_id)
       |ORDER BY doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_delete_apply" -> deleteDeltaSql,
    "q_delete_tombstone" -> deleteDeltaSql,
    // the gap documents themselves: the closure's non-min members that
    // are NOT later endpoints of any pair, labeled with their cluster
    "q_reconcile" ->
      s"""WITH RECURSIVE ${Dedup.minhashPairsCte},
         |$closureCtes,
         |ing AS (SELECT DISTINCT doc_b AS doc_id FROM pairs)
         |SELECT l.doc_id, l.cluster_id, d.n_chars
         |FROM lbl l JOIN documents d ON d.doc_id = l.doc_id
         |WHERE l.doc_id <> l.cluster_id
         |  AND l.doc_id NOT IN (SELECT doc_id FROM ing)
         |ORDER BY l.doc_id""".stripMargin,
    // both drop rules recomputed over the one pair truth: ingest = the
    // distinct later endpoints, batch = the closure's non-min members;
    // the per-bucket join mirrors the shared decile rule
    "dedup_policy_gap" ->
      s"""WITH RECURSIVE ${Dedup.minhashPairsCte},
         |$closureCtes,
         |ing AS (SELECT DISTINCT doc_b AS doc_id FROM pairs),
         |ccd AS (SELECT doc_id FROM lbl WHERE doc_id <> cluster_id),
         |mmg AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
         |dbk AS (SELECT d.doc_id, d.n_chars,
         |               ${graft.ext.Text.bucketSql("d.doc_id")} AS bucket
         |        FROM documents d CROSS JOIN mmg)
         |SELECT b.bucket,
         |       count(*) AS n_docs,
         |       CAST(count(c.doc_id) AS BIGINT) AS n_cc_dropped,
         |       CAST(count(i.doc_id) AS BIGINT) AS n_ingest_dropped,
         |       CAST(count(CASE WHEN c.doc_id IS NOT NULL AND i.doc_id IS NULL
         |                       THEN 1 END) AS BIGINT) AS n_gap,
         |       CAST(coalesce(sum(CASE WHEN c.doc_id IS NOT NULL AND i.doc_id IS NULL
         |                    THEN b.n_chars ELSE 0 END), 0) AS BIGINT) AS gap_chars
         |FROM dbk b
         |LEFT JOIN ccd c ON c.doc_id = b.doc_id
         |LEFT JOIN ing i ON i.doc_id = b.doc_id
         |GROUP BY b.bucket ORDER BY b.bucket""".stripMargin,
    "q_pagerank" -> pagerankSql,
    "q_kcore" -> kcoreSql,
    // transitive closure over the exact near-dup pair truth (the same
    // pair CTE the dedup_minhash oracle checks against)
    "dedup_cluster" ->
      s"""WITH RECURSIVE ${Dedup.minhashPairsCte},
         |$closureCtes
         |SELECT doc_id, cluster_id,
         |       CAST(count(*) OVER (PARTITION BY cluster_id) AS INTEGER) AS cluster_size,
         |       doc_id = cluster_id AS is_canonical
         |FROM lbl ORDER BY cluster_id, doc_id""".stripMargin,
    "dedup_survivors" ->
      s"""WITH RECURSIVE ${Dedup.minhashPairsCte},
         |$closureCtes
         |SELECT doc_id, lang, n_chars FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM lbl WHERE doc_id <> cluster_id)
         |ORDER BY doc_id""".stripMargin,
    "split_cluster_safe" ->
      s"""WITH RECURSIVE ${Dedup.minhashPairsCte},
         |$closureCtes,
         |g AS (SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS group_id
         |      FROM documents d LEFT JOIN lbl l ON d.doc_id = l.doc_id)
         |SELECT doc_id, group_id, ${Curation.splitSqlFor("group_id")} AS split
         |FROM g ORDER BY doc_id""".stripMargin,
    // plain id-orientation: the triangle SET is orientation-invariant,
    // only the join cost is (see triangleStats scaladoc)
    "q_triangles" ->
      s"""WITH ${Dedup.minhashPairsCte},
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs),
         |sym AS (SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges),
         |deg AS (SELECT u AS node, count(*) AS deg FROM sym GROUP BY 1),
         |tri AS (
         |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
         |  FROM edges e1 JOIN edges e2 ON e1.v = e2.u
         |  JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v),
         |tn AS (SELECT unnest([a, b, c]) AS node FROM tri),
         |tc AS (SELECT node, count(*) AS n_tri FROM tn GROUP BY 1)
         |SELECT d.node AS doc_id, d.deg, coalesce(tc.n_tri, 0) AS n_tri
         |FROM deg d LEFT JOIN tc ON d.node = tc.node
         |ORDER BY doc_id""".stripMargin,
  )
}
