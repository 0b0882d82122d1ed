package graft.operators

import graft.functions.{VectorFunctions => VF}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import org.apache.spark.sql.{Column, DataFrame}

/**
 * C67: dominant-direction extraction over an embedding corpus — the
 * "all-but-the-top" post-processing step (Mu & Viswanath 2018 shape):
 * embedding sets share a large common direction that inflates every
 * cosine, so semantic dedup / ANN quality improves after identifying
 * (and optionally projecting out) the top principal component. This
 * computes that component by FIXED-ROUND power iteration on the
 * mean-centered integer-quantized vectors, covariance-free:
 *
 *   s = Σ_rows (x·v)·x      (one aggregate per round — never forms
 *                            the D×D covariance, never shuffles rows)
 *   v ← (s·SCALE) / max|s|  (driver-side integer renormalization)
 *
 * Scale shape ([[Clustering.lloydAssign]] contract): the driver holds
 * only the D-long direction vector and the loop counter; each round is
 * ONE map-side-combining aggregate of D long sums over a persisted
 * compact (id, centered-vector) frame — no join, no per-round shuffle,
 * one scan per round at any corpus size.
 *
 * Integer-exactness (oracle-replayable):
 *  - centering: per-dim `floor(avg)` (floor in double, then cast — the
 *    cross-engine-safe conversion, same as the k-means centroid rule);
 *  - v₀ = SCALE in every dimension;
 *  - per-round long sums: the adversarial per-row term is
 *    |x·v|·|x_i| ≤ (D·max|x|·SCALE)·max|x| ≈ 1.7·10¹⁶ at |x| ≤ 2·10³,
 *    D = 64, so the worst-case guarantee covers only ~5·10² such rows
 *    (Spark's non-ANSI long SUM wraps silently past 2⁶³). Real
 *    centered corpora sit orders of magnitude below that corner (every
 *    row at max magnitude AND perfectly aligned with v); when the
 *    guarantee must hold adversarially at corpus scale, lower SCALE —
 *    the component is scale-invariant, and SCALE=2⁸ extends the same
 *    bound to ~10⁸ rows — or widen the round sums to DECIMAL;
 *  - renormalization multiplies in BigInt (the oracle uses HUGEINT) and
 *    divides truncating-toward-zero (BigInt `/` = DuckDB `//`, both
 *    verified truncating), so every round is bit-replayable;
 *  - fixed rounds, fixed v₀ → the result (including the sign of the
 *    component) is a pure function of the data.
 *
 * Output: one row per dimension — `pos` (1-based), `comp` (the final
 * normalized component, |comp| ≤ SCALE) and `s` (the final round's raw
 * sum, which fingerprints every previous round exactly).
 */
object Embeddings {

  val Scale = 65536L

  def topComponent(
      df: DataFrame,
      idCol: String,
      quantVecCol: String,
      dim: Int,
      rounds: Int = 3): DataFrame = {
    val spark = df.sparkSession
    val raw = df.select(col(idCol).as("__id"), col(quantVecCol).as("__v"))
    val (_, v, lastS) = fitTop(raw, dim, rounds)
    import spark.implicits._
    spark.createDataset((0 until dim).map(i => ((i + 1).toLong, v(i), lastS(i))))
      .toDF("pos", "comp", "s")
      .orderBy("pos")
  }

  /** The [[topComponent]] loop factored out: takes a frame whose `__v`
   * column is the quantized vector (other columns pass through),
   * returns the persisted mean-centered frame (`__x` replaces `__v`)
   * plus the final direction and raw-sum arrays. */
  private[operators] def fitTop(
      raw: DataFrame, dim: Int, rounds: Int): (DataFrame, Array[Long], Array[Long]) = {
    require(dim > 0 && rounds > 0)
    val meanAggs: Seq[Column] =
      (0 until dim).map(i => floor(avg(col("__v").getItem(i))).cast(LongType).as(s"m$i"))
    val meanRow = raw.agg(meanAggs.head, meanAggs.tail: _*).head()
    require(!meanRow.isNullAt(0),
      "power iteration needs a non-empty input frame (avg over zero rows is null)")
    val means = Array.tabulate(dim)(meanRow.getLong)

    val xc = raw.withColumn("__x",
        array((0 until dim).map(i => col("__v").getItem(i) - lit(means(i))): _*))
      .drop("__v")
      .transform(Scoped.persistTracked)

    var v = Array.fill[Long](dim)(Scale)
    var lastS = Array.fill[Long](dim)(0L)
    var round = 0
    while (round < rounds) {
      val dot = VF.dotLong(col("__x"), typedlit(v.toSeq))
      val sumAggs: Seq[Column] =
        (0 until dim).map(i => sum(dot * col("__x").getItem(i)).as(s"s$i"))
      val row = xc.agg(sumAggs.head, sumAggs.tail: _*).head()
      lastS = Array.tabulate(dim)(row.getLong)
      val m = BigInt(lastS.map(s => math.abs(s)).max).max(BigInt(1))
      v = lastS.map(s => ((BigInt(s) * Scale) / m).toLong)
      round += 1
    }
    (xc, v, lastS)
  }

  /**
   * C71: anisotropy ablation profile — the "how much would
   * all-but-the-top remove" table that justifies (or rejects) C67's
   * projection step per corpus slice: for each label, the mass of the
   * mean-centered vectors along the fitted dominant direction vs their
   * total mass. Per row, `p = (x·v) div Scale` — the projection onto
   * v under C67's |v|∞ = Scale normalization (for a 1-sparse
   * direction this IS the unit projection; in general it carries the
   * fixed factor |v|₂²/Scale², identical for every row, so the
   * per-label comparison is exact) — `sum_q = Σ (p² div 1000)`
   * against `sum_x2 = Σ x·x` is the variance-explained profile in
   * integer form, `sum_abs_p`/`max_abs_p` the skew. The residual after ablation satisfies
   * (x·v − p·Scale)·v ≈ 0 exactly in this arithmetic — the spec checks
   * that invariant; this query emits the per-label profile.
   *
   * Scale shape: ONE extra map-side-combining aggregate over the same
   * persisted centered frame the fit already pinned — no join, no new
   * shuffle beyond the |labels|-row aggregate. Long-sum bounds: worst
   * case |x·v| ≤ D·2000·Scale = 8.4e12 → p² div 1000 ≤ 1.6e13/row,
   * safe past 5·10⁵ rows per label even adversarially (real embeddings
   * sit ~4 orders below the bound); above that, raise the q divisor.
   */
  def ablationStats(
      df: DataFrame,
      idCol: String,
      quantVecCol: String,
      labelCol: String,
      dim: Int,
      rounds: Int = 3): DataFrame = {
    val raw = df.select(col(idCol).as("__id"), col(labelCol).as("__lbl"),
      col(quantVecCol).as("__v"))
    val (xc, v, _) = fitTop(raw, dim, rounds)
    xc.withColumn("dotv", VF.dotLong(col("__x"), typedlit(v.toSeq)))
      .withColumn("p", expr(s"dotv div $Scale"))
      .withColumn("x2", VF.dotLong(col("__x"), col("__x")))
      .groupBy(col("__lbl").as("label"))
      .agg(
        count(lit(1)).as("n"),
        sum(abs(col("p"))).as("sum_abs_p"),
        max(abs(col("p"))).as("max_abs_p"),
        sum(expr("p * p div 1000")).as("sum_q"),
        sum(col("x2")).as("sum_x2"))
      .orderBy("label")
  }

  /**
   * C75: Johnson–Lindenstrauss ±1 random projection — the cheap
   * dimensionality cut before ANN/dedup when D is large: out dim `d`
   * integer sums `proj_p = Σᵢ ±vᵢ` against deterministic ±1 sign rows
   * (the [[graft.functions.VectorFunctions.arithPlaneWeights]] LCG-
   * parity planes — reproducible in any engine with 64-bit integer
   * arithmetic, so projected-space ranks are exactly oracle-checkable,
   * unlike a seeded-gaussian matrix). Map-only, one codegen dot per
   * output dim; at 100 TB the win is D/d fewer bytes through every
   * downstream shuffle — and the companion recall query MEASURES what
   * that compression costs instead of assuming it.
   */
  def jlProject(
      df: DataFrame,
      idCol: String,
      quantVecCol: String,
      dim: Int,
      outDim: Int): DataFrame = {
    require(dim > 0 && outDim > 0 && outDim <= dim)
    val projCols: Seq[Column] = (0 until outDim).map { p =>
      val signs = VF.arithPlaneWeights(p, dim).map(_.toLong)
      VF.dotLong(col(quantVecCol), typedlit(signs.toSeq)).as(s"p$p")
    }
    df.select(col(idCol) +: projCols: _*)
      .select(col(idCol), array((0 until outDim).map(i => col(s"p$i")): _*).as("pv"))
  }

  /**
   * C96: Matryoshka prefix-truncation recall — the modern
   * dimension-reduction eval (Kusupati et al. 2022, "Matryoshka
   * Representation Learning"; OpenAI/nomic "shortening" embeddings):
   * MRL-trained models pack the signal into the PREFIX of the vector
   * so serving can truncate to d/2, d/4, … for cheaper indexes —
   * whether YOUR embeddings tolerate that is an empirical question,
   * and this measures it: exact top-`k` per probe at each prefix
   * length vs the full-dimension top-`k` ground truth. The C75
   * JL-recall sibling: C75 measures a random ±1 projection (the
   * data-independent fallback), this measures the learned-prefix
   * claim; a model NOT MRL-trained shows a steep recall cliff here
   * and a flat JL curve, which is exactly the decision diagram a
   * serving team needs.
   *
   * Exactness: quantized integer vectors, prefix dot products stay
   * exact int64 sums, cosine ranks break ties by neighbor id (the
   * repo's quantize-for-exact-ranks rule); recall is integer ppm.
   *
   * Scale shape: probes are a bounded broadcast (nProbes rows);
   * each prefix length is one broadcast-join + per-probe top-k
   * window over the corpus — the brute-force AUDIT tier (C6 class),
   * run on a probe sample, never an all-pairs product. The serving
   * path for the chosen prefix is the usual IVF/LSH rung (C7/C7b).
   *
   * @return per prefix: (trunc_dim, probes, pairs, hits, recall_ppm),
   *         one row per entry of `dims` (include the full dimension
   *         for the recall ≡ 10⁶ sanity row).
   */
  def matryoshkaRecall(
      df: DataFrame,
      idCol: String,
      quantVecCol: String,
      dims: Seq[Int],
      k: Int = 5,
      nProbes: Int = 5): DataFrame = {
    require(dims.nonEmpty && dims.forall(_ >= 1), "dims must be positive")
    require(k >= 1 && nProbes >= 1, s"k=$k and nProbes=$nProbes must be >= 1")
    // input contract (the semanticPack cmat.nonEmpty sibling): with no
    // probe rows or a single-row corpus, pairs = 0 and the recall_ppm
    // division diverges across engines (Spark NULL vs a DuckDB
    // divide-by-zero error) — refuse eagerly instead. Both checks are
    // limit-bounded driver jobs.
    require(df.filter(col(idCol) < nProbes).limit(1).count() == 1L,
      s"no probe rows with $idCol < $nProbes")
    require(df.limit(2).count() == 2L,
      "need >= 2 rows to form query/neighbor pairs")
    import org.apache.spark.sql.expressions.Window
    def topK(vec: Column => Column): DataFrame = {
      val q = df.filter(col(idCol) < nProbes)
        .select(col(idCol).as("query_id"), vec(col(quantVecCol)).as("va"))
      val c = df.select(col(idCol).as("neighbor_id"), vec(col(quantVecCol)).as("vb"))
      val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
      broadcast(q).join(c, col("query_id") =!= col("neighbor_id"))
        .withColumn("cos",
          VF.dotLong(col("va"), col("vb")).cast(DoubleType) /
            sqrt(VF.dotLong(col("va"), col("va")).cast(DoubleType) *
              VF.dotLong(col("vb"), col("vb")).cast(DoubleType)))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select("query_id", "neighbor_id")
    }
    // joined once per prefix length
    val full = topK(identity).withColumn("hit", lit(1L))
      .transform(Scoped.pinned)
    dims.map { m =>
      topK(v => slice(v, 1, m))
        .join(full, Seq("query_id", "neighbor_id"), "left")
        .agg(count(lit(1)).as("pairs"),
          coalesce(sum("hit"), lit(0L)).as("hits"))
        .select(lit(m.toLong).as("trunc_dim"), lit(nProbes.toLong).as("probes"),
          col("pairs"), col("hits"),
          expr("hits * 1000000L div pairs").as("recall_ppm"))
    }.reduce(_.unionAll(_)).orderBy("trunc_dim")
  }
}
