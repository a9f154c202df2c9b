package graft.ext

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed PCA over the embedding corpus — the top principal
  * direction of the centered covariance, computed from a Gram matrix
  * accumulated in ONE corpus pass and an eigen solve that never leaves
  * the driver. The retrieval-preprocessing use: embedding sets from
  * contrastive encoders carry a dominant "hubness" direction; measuring
  * it (and projecting it out) is standard whitening-lite before cosine
  * retrieval.
  *
  * Scale shape: each partition folds its rows into a local d×(d+3)/2-
  * double accumulator (count, per-dim sum, upper-triangle Gram) inside
  * `mapPartitions` — one of the few places imperative per-partition
  * code beats the relational form, because the alternative explodes
  * d(d+1)/2 rows per vector into a shuffle. The driver collects one
  * 33 KB accumulator per partition (d = 64), forms the centered
  * covariance C = G/n − μμᵀ, and power-iterates to machine precision in
  * microseconds. ONE pass over the corpus, ZERO shuffles, driver state
  * O(d²) — the right trade until d reaches the tens of thousands, where
  * the matrix-free per-pass iteration (same aggregation, v-weighted)
  * takes over. Deterministic: fixed init, fixed in-partition fold order,
  * partition partials reduced in partition order on the driver.
  */
object Pca {

  private def embDouble(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("embedding").cast("array<double>").as("e"))

  private def litArray(v: Array[Double]) = array(v.map(lit): _*)

  /** Σ_j e_j·v_j over double arrays — the projection map. */
  private def dotD(e: org.apache.spark.sql.Column, v: Array[Double]) =
    aggregate(zip_with(e, litArray(v), (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** One-pass (count, Σe, upper-triangle Gram) accumulation. */
  private def moments(e: DataFrame): (Double, Array[Double], Array[Double]) = {
    import e.sparkSession.implicits._
    val d = e.head().getSeq[Double](1).size
    val tri = d * (d + 1) / 2
    val partials = e.select(col("e")).as[Seq[Double]]
      .mapPartitions { it =>
        val acc = new Array[Double](1 + d + tri)
        it.foreach { row =>
          val v = row.toArray
          acc(0) += 1.0
          var j = 0; var t = 0
          while (j < d) {
            acc(1 + j) += v(j)
            var k = j
            while (k < d) { acc(1 + d + t) += v(j) * v(k); k += 1; t += 1 }
            j += 1
          }
        }
        Iterator.single(acc)
      }.collect()
    val tot = new Array[Double](1 + d + tri)
    partials.foreach { p => var i = 0; while (i < tot.length) { tot(i) += p(i); i += 1 } }
    (tot(0), tot.slice(1, 1 + d), tot.slice(1 + d, 1 + d + tri))
  }

  /** Top principal direction and eigenvalue of the centered covariance
    * (1/n)·Σ(e−μ)(e−μ)ᵀ. Returns (direction, eigenvalue, μ).
    */
  def topComponent(emb: DataFrame, iters: Int = 10000): (Array[Double], Double, Array[Double]) = {
    val (comps, mu, _) = topComponents(emb, 1, iters)
    (comps.head._1, comps.head._2, mu)
  }

  /** Top-k eigenpairs of the centered covariance, plus μ and trace(C)
    * (the total variance, for explained-variance ratios). The corpus is
    * touched ONCE (the moments pass); components come from driver-side
    * power iteration with deflation C ← C − λvvᵀ — at d=64 each extra
    * component is microseconds, not another corpus scan.
    */
  def topComponents(emb: DataFrame, k: Int, iters: Int = 10000)
      : (Seq[(Array[Double], Double)], Array[Double], Double) = {
    val (n, sums, gTri) = moments(embDouble(emb))
    val d = sums.length
    val mu = sums.map(_ / n)
    // dense centered covariance from the upper triangle
    val c = Array.ofDim[Double](d, d)
    var j = 0; var t = 0
    while (j < d) {
      var k2 = j
      while (k2 < d) {
        val v = gTri(t) / n - mu(j) * mu(k2)
        c(j)(k2) = v; c(k2)(j) = v
        k2 += 1; t += 1
      }
      j += 1
    }
    val trace = (0 until d).map(i => c(i)(i)).sum
    val comps = (1 to k).map { _ =>
      // driver power iteration to machine precision (deterministic init
      // with an index tilt so no coordinate symmetry traps it)
      var v = Array.tabulate(d)(i => 1.0 + 1e-3 * i)
      val norm = math.sqrt(v.map(x => x * x).sum)
      v = v.map(_ / norm)
      var lambda = 0.0
      var it = 0
      var moved = Double.MaxValue
      while (it < iters && moved > 1e-15) {
        val w = Array.tabulate(d)(i => {
          var acc = 0.0; var k2 = 0
          while (k2 < d) { acc += c(i)(k2) * v(k2); k2 += 1 }
          acc
        })
        val nrm = math.sqrt(w.map(x => x * x).sum)
        val nv = w.map(_ / nrm)
        moved = v.indices.map(i => math.abs(nv(i) - v(i))).max
        v = nv; lambda = nrm
        it += 1
      }
      // deflate: C <- C - lambda v v^T
      var a = 0
      while (a < d) {
        var b = 0
        while (b < d) { c(a)(b) -= lambda * v(a) * v(b); b += 1 }
        a += 1
      }
      (v, lambda)
    }
    (comps, mu, trace)
  }

  /** The top-3 directions, one row per (component, dimension) — the
    * audit artifact (which dims each dominant component loads on) with
    * eigenvalue and explained-variance ratio.
    */
  def qPcaTop(spark: SparkSession, dir: String): DataFrame = {
    val (comps, _, trace) = topComponents(Tables.embeddings(spark, dir), 3)
    import spark.implicits._
    // outputs round (HALF_UP, matching SQL ROUND) so the driver's
    // DuckDB eigensolve oracle hash-matches: both engines converge the
    // same fixpoint to ~1e-13, far inside the rounding granularity
    def r(x: Double, s: Int) =
      BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    comps.zipWithIndex.flatMap { case ((v, lambda), c) =>
      v.zipWithIndex.map { case (x, j) =>
        (c + 1, j, r(x, 6), r(lambda, 6), r(lambda / trace, 4))
      }
    }.toDF("component", "dim", "loading", "eigenvalue", "var_ratio")
      .orderBy("component", "dim")
  }

  /** Per-vector projection onto the top component — the outlier /
    * hubness score a curation pass thresholds on. Pure map over the
    * corpus once the (2d + 1)-double driver state exists.
    */
  def pcaScores(emb: DataFrame, iters: Int = 10000): DataFrame = {
    val (v, _, mu) = topComponent(emb, iters)
    val muDotV = mu.indices.map(j => mu(j) * v(j)).sum
    embDouble(emb)
      .select(col("vec_id"),
        round(dotD(col("e"), v) - lit(muDotV), 4).as("pc1_score"))
      .orderBy("vec_id")
  }

  def qPcaScores(spark: SparkSession, dir: String): DataFrame =
    pcaScores(Tables.embeddings(spark, dir))

  /** Whitened-cosine top-k: cosine over the residuals after projecting
    * out the dominant component — the hubness correction that keeps one
    * shared direction from dominating every similarity. No residual
    * vector is ever materialized: with r_q = (q−μ) − s_q·v precomputed
    * on the driver (r_q ⊥ v), the per-row algebra reduces every
    * residual dot/norm to dot products against three constant vectors
    * (r_q, μ, v) plus the row's self-dot — a pure map over one corpus
    * scan, lowered to TakeOrderedAndProject exactly like `ann_topk`.
    */
  def whitenedTopk(emb: DataFrame, queryId: Long = 0L, k: Int = 10): DataFrame = {
    val (v, _, mu) = topComponent(emb)
    val d = mu.length
    val q = embDouble(emb).filter(col("vec_id") === queryId)
      .head().getSeq[Double](1).toArray
    val qc = Array.tabulate(d)(j => q(j) - mu(j))
    val sq = qc.indices.map(j => qc(j) * v(j)).sum
    val rq = Array.tabulate(d)(j => qc(j) - sq * v(j))
    val rqNorm = math.sqrt(rq.map(x => x * x).sum)
    val muDotV = mu.indices.map(j => mu(j) * v(j)).sum
    val muDotRq = mu.indices.map(j => mu(j) * rq(j)).sum
    val muDotMu = mu.map(x => x * x).sum
    embDouble(emb)
      .filter(col("vec_id") =!= queryId)
      .withColumn("s", dotD(col("e"), v) - lit(muDotV))
      .withColumn("num", dotD(col("e"), rq) - lit(muDotRq))
      .withColumn("rn2",
        dotD(col("e"), mu) * lit(-2.0) + dotD2(col("e")) + lit(muDotMu)
          - col("s") * col("s"))
      .filter(col("rn2") > 0)
      .select(col("vec_id"),
        round(col("num") / (sqrt(col("rn2")) * lit(rqNorm)), 4).as("wcos"))
      .orderBy(col("wcos").desc, col("vec_id"))
      .limit(k)
  }

  /** Row self-dot Σ e_j², same HOF shape as [[dotD]]. */
  private def dotD2(e: org.apache.spark.sql.Column) =
    aggregate(transform(e, x => x * x), lit(0.0), (acc, x) => acc + x)

  def qAnnWhitened(spark: SparkSession, dir: String): DataFrame =
    whitenedTopk(Tables.embeddings(spark, dir))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "embed_pca_top" -> (qPcaTop _),
    "embed_pca_scores" -> (qPcaScores _),
    "ann_topk_whitened" -> (qAnnWhitened _),
  )

  /** DuckDB eigensolve by REPEATED MATRIX SQUARING — the trick that
    * makes an iterative eigenvector SQL-expressible: normalize(C^(2^K)
    * · v0) with K = 20 drives the subdominant ratio to (λ2/λ1)^(2^20)
    * ≈ 0 (the corpus eigengap λ2/λ1 ≈ 0.9874 would need ~1600 unrolled
    * power-iteration rounds for 1e-9; 20 squarings of a d×d matrix get
    * exactly 0), so the oracle's vector IS the fixpoint the Spark side
    * converges to — both to ~1e-13, far inside every rounded output's
    * granularity. Each squaring renormalizes by its max |entry| to keep
    * λ1^(2^k) in double range; the same deterministic tilted init
    * (1 + 0.001·j) picks the same SIGN (the limit is v̂·sign(v0ᵀv̂) for
    * both methods since covariance eigenvalues are ≥ 0). Components 2-3
    * repeat the squaring on the DEFLATED matrix C − λvvᵀ, exactly
    * mirroring [[topComponents]]. Every CTE that is referenced twice is
    * MATERIALIZED (an inlining engine would expand the squaring chain
    * exponentially).
    */
  private val SqRounds = 20

  /** Squaring chain `${tag}m1..${tag}m$SqRounds` from matrix CTE `$from`,
    * ending in eigvector `${tag}v(j, v)` and eigvalue `${tag}lam(l)`.
    */
  private def eigCtes(tag: String, from: String): String = {
    val chain = (1 to SqRounds).map { k =>
      val prev = if (k == 1) from else s"${tag}m${k - 1}"
      s"""${tag}m$k AS MATERIALIZED (
         |  WITH p AS MATERIALIZED (SELECT a.i AS i, b.j AS j, sum(a.v * b.v) AS v
         |    FROM $prev a JOIN $prev b ON a.j = b.i GROUP BY 1, 2)
         |  SELECT i, j, v / (SELECT max(abs(v)) FROM p) AS v FROM p)""".stripMargin
    }.mkString(",\n")
    s"""$chain,
       |${tag}w AS (SELECT m.i AS j, sum(m.v * (1 + 0.001 * m.j)) AS w
       |  FROM ${tag}m$SqRounds m GROUP BY 1),
       |${tag}v AS MATERIALIZED (SELECT j, w / sqrt((SELECT sum(w * w) FROM ${tag}w)) AS v
       |  FROM ${tag}w),
       |${tag}lam AS MATERIALIZED (SELECT sum(va.v * c.v * vb.v) AS l
       |  FROM $from c JOIN ${tag}v va ON va.j = c.i JOIN ${tag}v vb ON vb.j = c.j)""".stripMargin
  }

  private def deflateCte(out: String, from: String, tag: String): String =
    s"""$out AS MATERIALIZED (SELECT c.i, c.j,
       |  c.v - (SELECT l FROM ${tag}lam) * va.v * vb.v AS v
       |  FROM $from c JOIN ${tag}v va ON va.j = c.i JOIN ${tag}v vb ON vb.j = c.j)""".stripMargin

  /** Moments + centered covariance `c0(i, j, v)` over the embeddings
    * table, plus `mu(j, m)` and the total-variance scalar `tr(t)`.
    */
  private val covCte: String =
    s"""ee AS MATERIALIZED (
       |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS j,
       |         CAST(unnest(embedding) AS DOUBLE) AS x
       |  FROM embeddings),
       |nn AS (SELECT count(*) AS n FROM embeddings),
       |mu AS MATERIALIZED (SELECT j, sum(x) / (SELECT n FROM nn) AS m FROM ee GROUP BY j),
       |gram AS (SELECT a.j AS i, b.j AS j, sum(a.x * b.x) AS g
       |  FROM ee a JOIN ee b ON a.vec_id = b.vec_id GROUP BY 1, 2),
       |c0 AS MATERIALIZED (
       |  SELECT g.i, g.j, g.g / (SELECT n FROM nn) - mi.m * mj.m AS v
       |  FROM gram g JOIN mu mi ON mi.j = g.i JOIN mu mj ON mj.j = g.j),
       |tr AS (SELECT sum(v) AS t FROM c0 WHERE i = j)""".stripMargin

  private lazy val pcaScoresSql: String =
    s"""WITH $covCte,
       |${eigCtes("a", "c0")}
       |SELECT ee.vec_id,
       |       round(sum(ee.x * av.v)
       |             - (SELECT sum(mu.m * av.v) FROM mu JOIN av ON mu.j = av.j), 4)
       |         AS pc1_score
       |FROM ee JOIN av ON ee.j = av.j
       |GROUP BY ee.vec_id ORDER BY ee.vec_id""".stripMargin

  private def topCompSelect(comp: Int, tag: String): String =
    s"""SELECT $comp AS component, ${tag}v.j AS dim, round(${tag}v.v, 6) AS loading,
       |       round((SELECT l FROM ${tag}lam), 6) AS eigenvalue,
       |       round((SELECT l FROM ${tag}lam) / (SELECT t FROM tr), 4) AS var_ratio
       |FROM ${tag}v""".stripMargin

  private lazy val pcaTopSql: String =
    s"""WITH $covCte,
       |${eigCtes("a", "c0")},
       |${deflateCte("c1", "c0", "a")},
       |${eigCtes("b", "c1")},
       |${deflateCte("c2", "c1", "b")},
       |${eigCtes("d", "c2")}
       |${topCompSelect(1, "a")}
       |UNION ALL
       |${topCompSelect(2, "b")}
       |UNION ALL
       |${topCompSelect(3, "d")}
       |ORDER BY component, dim""".stripMargin

  /** Whitened-cosine oracle: the same closed-form per-row algebra as
    * [[whitenedTopk]], with v and μ from the squaring eigensolve and
    * the query-side scalars (s_q, r_q, ‖r_q‖) as scalar CTEs.
    */
  private lazy val annWhitenedSql: String =
    s"""WITH $covCte,
       |${eigCtes("a", "c0")},
       |q AS MATERIALIZED (
       |  SELECT ee.j, ee.x - mu.m AS qc FROM ee JOIN mu ON ee.j = mu.j
       |  WHERE ee.vec_id = 0),
       |sq AS (SELECT sum(q.qc * av.v) AS s FROM q JOIN av ON av.j = q.j),
       |rq AS MATERIALIZED (
       |  SELECT q.j, q.qc - (SELECT s FROM sq) * av.v AS r
       |  FROM q JOIN av ON av.j = q.j),
       |rqn AS (SELECT sqrt(sum(r * r)) AS nrm FROM rq),
       |mudots AS (SELECT (SELECT sum(mu.m * av.v) FROM mu JOIN av ON mu.j = av.j) AS mv,
       |                  (SELECT sum(mu.m * rq.r) FROM mu JOIN rq ON mu.j = rq.j) AS mr,
       |                  (SELECT sum(m * m) FROM mu) AS mm),
       |rows_ AS (
       |  SELECT ee.vec_id,
       |         sum(ee.x * av.v) - (SELECT mv FROM mudots) AS s,
       |         sum(ee.x * rq.r) - (SELECT mr FROM mudots) AS num,
       |         -2 * sum(ee.x * mu.m) + sum(ee.x * ee.x) + (SELECT mm FROM mudots) AS rn2p
       |  FROM ee JOIN av ON ee.j = av.j JOIN rq ON ee.j = rq.j JOIN mu ON ee.j = mu.j
       |  WHERE ee.vec_id <> 0
       |  GROUP BY ee.vec_id)
       |SELECT vec_id, round(num / (sqrt(rn2p - s * s) * (SELECT nrm FROM rqn)), 4) AS wcos
       |FROM rows_
       |WHERE rn2p - s * s > 0
       |ORDER BY wcos DESC, vec_id
       |LIMIT 10""".stripMargin

  val oracles: Map[String, String] = Map(
    "embed_pca_scores" -> pcaScoresSql,
    "embed_pca_top" -> pcaTopSql,
    "ann_topk_whitened" -> annWhitenedSql,
  )
}
