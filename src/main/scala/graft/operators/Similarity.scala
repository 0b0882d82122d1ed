package graft.operators

import graft.functions.VectorFunctions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/**
 * Approximate-nearest-neighbor operators over embedding columns
 * (SURVEY.md §2 C6-C7). Queries are broadcast (small side); candidates
 * stay partitioned — per-partition scoring is map-only, and top-k per
 * query is a bounded window / TakeOrdered, never a global sort of the
 * full corpus.
 */
object Similarity {

  /**
   * C6: brute-force cosine top-k. One broadcast of the query set, one
   * map over candidates, one k-bounded rank per query. At 100 TB the
   * cost is a single scan of the corpus — the right baseline.
   */
  def bruteTopK(
      candidates: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv")))
    val c = candidates.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("__qv"), col("__cv")))
    topK(scored, k)
  }

  /**
   * C7: LSH-bucketed ANN (random hyperplanes). Candidates are pruned to
   * the query's signature bucket, then exact-cosine reranked. `bits`
   * controls the pruning ratio (2^bits buckets). The scale path: the
   * bucket join shuffles only (bucket, id, vec) and each bucket is a
   * tiny fraction of the corpus. Hot buckets are NOT the quadratic
   * class [[cosinePairs]] caps: the query side is a broadcast constant,
   * so join output is ≤ |queries|·|bucket| — linear in the corpus for a
   * fixed query set (AQE splits skewed bucket partitions); the
   * uncapped quadratic only arises in corpus×corpus pair joins.
   */
  def lshTopK(
      candidates: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      bits: Int = 8,
      dim: Int = 0): DataFrame = {
    // One codegen'd VectorDot against a constant ±1 plane per bit. The
    // seeded-xxhash formulation (lshBucket) recomputes plane signs per
    // element in an interpreted lambda — measured 5x SLOWER than the
    // brute-force scan at 1M vectors; constant planes make signing a
    // tight loop. dim=0 infers the dimension from one query row.
    val d = if (dim > 0) dim
      else queries.select(size(col(vecCol))).head.getInt(0)
    def bucket(v: Column): Column = arithLshBucket(v.cast("array<double>"), bits, d)
    val q = broadcast(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
        .withColumn("__bucket", bucket(col("__qv"))))
    val c = candidates
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
      .withColumn("__bucket", bucket(col("__cv")))
    val scored = q.join(c, Seq("__bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("__qv"), col("__cv")))
    topK(scored, k)
  }

  /**
   * C7 (oracle-exact variant): LSH-bucketed ANN over integer-quantized
   * vectors with arithmetic (LCG-derived) hyperplanes. Same plan shape
   * as [[lshTopK]] — broadcast queries, bucket-pruned candidates, exact
   * rerank — but every number (bucket bits, dots, cosines) is exact
   * integer math reproducible in any SQL engine, so the full top-k
   * output can be hash-checked against an independent oracle.
   */
  def lshTopKArith(
      candidates: DataFrame,
      queries: DataFrame,
      idCol: String,
      quantVecCol: String,
      k: Int,
      bits: Int,
      dim: Int): DataFrame = {
    def withBucket(df: DataFrame, id: String, v: String) =
      df.select(
        col(idCol).as(id), col(quantVecCol).as(v),
        arithLshBucket(col(quantVecCol), bits, dim).as("__bucket"),
        dotLong(col(quantVecCol), col(quantVecCol)).as(s"__n$v"))
    val q = broadcast(withBucket(queries, "query_id", "__qv"))
    val c = withBucket(candidates, "neighbor_id", "__cv")
    val scored = q.join(c, Seq("__bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        dotLong(col("__qv"), col("__cv")).cast("double") /
          sqrt(col("__n__qv").cast("double") * col("__n__cv").cast("double")))
    topK(scored, k)
  }

  /**
   * C7 (IVF variant): inverted-file ANN — KMeans centroids partition the
   * corpus into cells; each query searches only its `probes` nearest
   * cells, then exact-cosine reranks. Training samples to the driver
   * (bounded by `trainSample`); assignment and search are distributed
   * column expressions. Versus random-hyperplane LSH: data-adaptive
   * cells give better recall/candidate ratios on clustered embeddings,
   * at the cost of a small training pass — the classic IVF trade.
   */
  def ivfTopK(
      candidates: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nCells: Int = 16,
      probes: Int = 2,
      trainSample: Int = 10000,
      seed: Long = 42L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector

    val train = candidates
      .select(array_to_vector(col(vecCol).cast("array<double>")).as("features"))
      .limit(trainSample)
    val model = new KMeans().setK(nCells).setSeed(seed).setFeaturesCol("features").fit(train)
    val centroids: Array[(Int, Array[Double])] =
      model.clusterCenters.zipWithIndex.map { case (v, i) => (i, v.toArray) }

    // Cell affinity: ‖v−c‖² = ‖v‖² − 2v·c + ‖c‖² with ‖v‖² constant per
    // row → rank cells by (v·c − ‖c‖²/2). One codegen'd NearestCells
    // pass embeds the whole centroid matrix — the per-centroid
    // struct+greatest formulation paid interpreted struct comparisons
    // and was 100x slower at 1M rows. Candidates take their best cell;
    // queries probe their top `probes` cells.
    val cmat = centroids.map(_._2)
    val c = candidates
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
      .withColumn("__cell",
        element_at(graft.functions.NearestCells(col("__cv"), cmat, 1), 1))
    val q = broadcast(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
        .withColumn("__cells", graft.functions.NearestCells(col("__qv"), cmat, probes)))
    val scored = q.join(c, array_contains(col("__cells"), col("__cell")))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("__qv"), col("__cv")))
    topK(scored, k)
  }

  /** Seed-centroid matrix: the bounded driver collect (KBs) all five
   * IVF entry points share — rows matching `pred`, ordered by id,
   * vectors as double arrays. One definition so the seed contract
   * (order, cast) can never drift between the build and probe paths
   * (the q_c7b/q_c7d output-equality oracle rides on it). */
  private def collectSeeds(
      df: DataFrame, idCol: String, quantVecCol: String,
      pred: Column): Array[Array[Double]] =
    df.filter(pred).orderBy(idCol)
      .select(col(quantVecCol).cast("array<double>").as("__c"))
      .collect().map(_.getSeq[Double](0).toArray)

  /** Shared probe half of seeded/indexed IVF: broadcast the queries
   * with their `probes` nearest cells exploded, equi-join on the
   * candidate side's `__cell`, exact-cosine score, top-k. `c` must
   * carry (neighbor_id, __cv, __ncv, __cell). */
  private def probeAssigned(
      c: DataFrame, queries: DataFrame, idCol: String, quantVecCol: String,
      cmat: Array[Array[Double]], k: Int, probes: Int): DataFrame = {
    val q = broadcast(queries.select(
        col(idCol).as("query_id"), col(quantVecCol).as("__qv"),
        dotLong(col(quantVecCol), col(quantVecCol)).as("__nqv"))
      .withColumn("__cell", explode(graft.functions.NearestCells(
        col("__qv").cast("array<double>"), cmat, probes))))
    val scored = q.join(c, Seq("__cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        dotLong(col("__qv"), col("__cv")).cast("double") /
          sqrt(col("__nqv").cast("double") * col("__ncv").cast("double")))
    topK(scored, k)
  }

  /**
   * C7 (IVF, oracle-exact variant): inverted-file ANN with
   * deterministic sampled-seed centroids — the first `nSeeds` candidate
   * rows by id ARE the cells, skipping Lloyd iterations (the classic
   * "random sample" IVF initialization, kept as-is so any SQL engine
   * can reproduce it). Cells rank by the ‖v−c‖²-equivalent affinity
   * v·c − ‖c‖²/2, exact in double for integer-quantized vectors, so
   * cell assignment AND the reranked top-k hash-match the DuckDB
   * oracle. Probed cells are exploded to (query, cell) rows and
   * equi-joined on the candidate's cell — a broadcast hash join, not a
   * nested-loop array_contains scan. Centroid "training" is a bounded
   * driver collect of nSeeds rows (KBs), same cost shape as KMeans fit.
   */
  def ivfTopKSeeded(
      candidates: DataFrame,
      queries: DataFrame,
      idCol: String,
      quantVecCol: String,
      k: Int,
      nSeeds: Int = 16,
      probes: Int = 2): DataFrame = {
    val cmat = collectSeeds(candidates, idCol, quantVecCol, col(idCol) < nSeeds)
    require(cmat.nonEmpty, s"no seed rows with $idCol < $nSeeds")
    val c = candidates.select(
        col(idCol).as("neighbor_id"), col(quantVecCol).as("__cv"),
        dotLong(col(quantVecCol), col(quantVecCol)).as("__ncv"))
      .withColumn("__cell", element_at(graft.functions.NearestCells(
        col("__cv").cast("array<double>"), cmat, 1), 1))
    probeAssigned(c, queries, idCol, quantVecCol, cmat, k, probes)
  }

  /**
   * C7d: the IVF index as a PUBLISHED ARTIFACT (r17 verdict #5) — the
   * warm-start half of the ANN lifecycle: [[ivfTopKSeeded]] re-derives
   * seeds and re-assigns every candidate on every call, which is the
   * right shape for a one-shot query but wrong for a serving fleet
   * where thousands of probe batches share one index build. The index
   * frame is one row per candidate — (id, vector, `cell`, `is_seed`) —
   * exactly the inverted file: publish it once through
   * [[graft.sources.Snapshots]] (`statsCols = Seq("cell")`, so the
   * manifest data card records per-cell member counts — the C81
   * balance audit read for free from metadata), then serve every probe
   * batch from the PINNED version while rebuilds publish the next one.
   * Probing a pinned version is bit-stable by construction (snapshots
   * are immutable) — the repeatable-dedup property C122 pins, applied
   * to ANN serving. The PQ path warm-starts from the same artifact:
   * [[ivfPqTopKSeeded]]'s codebooks are deterministic functions of the
   * seed rows, which the index carries (`is_seed`).
   */
  def buildIvfIndex(
      candidates: DataFrame,
      idCol: String,
      quantVecCol: String,
      nSeeds: Int = 16): DataFrame = {
    val cmat = collectSeeds(candidates, idCol, quantVecCol, col(idCol) < nSeeds)
    require(cmat.nonEmpty, s"no seed rows with $idCol < $nSeeds")
    candidates.select(col(idCol), col(quantVecCol))
      .withColumn("cell", element_at(graft.functions.NearestCells(
        col(quantVecCol).cast("array<double>"), cmat, 1), 1))
      .withColumn("is_seed", col(idCol) < nSeeds)
  }

  /** Build + publish the IVF index as the next snapshot version under
   * `base`; returns the version number. The manifest's per-cell row
   * counts double as the cell-balance data card. */
  def publishIvfIndex(
      candidates: DataFrame,
      idCol: String,
      quantVecCol: String,
      base: String,
      nSeeds: Int = 16): Long =
    graft.sources.Snapshots.publish(
      buildIvfIndex(candidates, idCol, quantVecCol, nSeeds),
      base, statsCols = Seq("cell"))

  /** Probe a (published) IVF index frame: candidates arrive
   * PRE-ASSIGNED (`cell` column), so the per-probe cost is seed
   * collect (KBs) + the broadcast probe join — no corpus assignment
   * pass. Output is identical to [[ivfTopKSeeded]] over the same
   * corpus (spec-pinned). */
  def ivfTopKIndexed(
      index: DataFrame,
      queries: DataFrame,
      idCol: String,
      quantVecCol: String,
      k: Int,
      probes: Int = 2): DataFrame = {
    val cmat = collectSeeds(index, idCol, quantVecCol, col("is_seed"))
    require(cmat.nonEmpty, "index has no is_seed rows")
    val c = index.select(
      col(idCol).as("neighbor_id"), col(quantVecCol).as("__cv"),
      dotLong(col(quantVecCol), col(quantVecCol)).as("__ncv"),
      col("cell").as("__cell"))
    probeAssigned(c, queries, idCol, quantVecCol, cmat, k, probes)
  }

  /**
   * C81: IVF index-maintenance audit — the operational third leg of
   * the ANN lifecycle (C7b builds, D10 serves, THIS maintains): as a
   * corpus grows, cells drift out of balance, and a hot cell silently
   * degrades every query that probes it (probe cost is proportional to
   * cell size — one overfull cell costs more than all the others
   * combined). Per cell: member count, imbalance vs the uniform mean
   * (`members·nSeeds·10⁶ div total`, exact), a `hot` flag
   * (`members·nSeeds > hotFactor·total`), and for hot cells a
   * DETERMINISTIC split proposal: the cell's min-id member as one new
   * seed and its farthest member (exact integer L2², ties → lower id)
   * as the other — the two-extremes initialization that guarantees the
   * split separates the cell's diameter.
   *
   * Scale shape: assignment is the C7b map-only codegen pass over a
   * persisted frame; the audit is two combining aggregates over it —
   * per-cell (count, min-id), then per-cell `max(struct(dist², −id))`
   * against each row's OWN cell anchor (a typedlit array indexed by
   * cell: no join at all). Every intermediate is ≤ nSeeds rows, so it
   * rides the same bounded driver-collect contract as the seeds
   * themselves and the result assembles as a LOCAL relation — the
   * executed plan is two scans of the cached assignment and zero
   * join/exchange machinery. All integer → the oracle replays cells,
   * counts, and split seeds bit-for-bit.
   */
  def ivfAudit(
      candidates: DataFrame,
      idCol: String,
      quantVecCol: String,
      nSeeds: Int = 16,
      hotFactor: Int = 2): DataFrame = {
    val spark = candidates.sparkSession
    val cmat = collectSeeds(candidates, idCol, quantVecCol, col(idCol) < nSeeds)
    // the imbalance/hot arithmetic multiplies by the NOMINAL nSeeds —
    // with fewer actual seeds every cell would read inflated, so make
    // the contract explicit rather than silently mis-scaling
    require(cmat.length == nSeeds,
      s"expected $nSeeds seed rows with $idCol < $nSeeds, found ${cmat.length}")
    val assigned = Scoped.persistTracked(
      candidates.select(col(idCol).as("id"), col(quantVecCol).as("__v"))
        .withColumn("cell", element_at(
          graft.functions.NearestCells(col("__v").cast("array<double>"), cmat, 1), 1)))
    // per-cell (members, anchor): ≤ nSeeds rows — bounded driver state
    val counts = assigned.groupBy("cell")
      .agg(count(lit(1)).as("members"), min(col("id")).as("anchor_id"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val total = counts.map(_._2).sum
    val anchorIds = counts.map(_._3)
    val anchorVec: Map[Long, Seq[Long]] = assigned
      .filter(col("id").isin(anchorIds: _*))
      .select(col("id"), col("__v")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // cell → its anchor vector as ONE literal array-of-arrays (empty
    // cells never appear in rows, their slot is a harmless empty vec)
    val avByCell: Seq[Seq[Long]] = (0 until nSeeds).map { cellIdx =>
      counts.find(_._1 == cellIdx).map(c => anchorVec(c._3)).getOrElse(Seq.empty[Long])
    }
    val av = element_at(typedlit(avByCell), col("cell") + 1)
    val far = assigned
      .withColumn("__d2",
        dotLong(col("__v"), col("__v")) - lit(2L) * dotLong(col("__v"), av) +
          dotLong(av, av))
      .groupBy("cell")
      .agg(max(struct(col("__d2").as("d"), (-col("id")).as("nid"))).as("__f"))
      .select(col("cell"), (-col("__f.nid")).as("far_id")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    import spark.implicits._
    counts.toSeq.map { case (cell, members, anchor) =>
      val hot = members * nSeeds > hotFactor.toLong * total
      (cell, members, members * nSeeds * 1000000L / total,
        if (hot) 1 else 0,
        if (hot) Some(anchor) else None,
        if (hot) Some(far(cell)) else None)
    }.toDF("cell", "members", "imbalance_ppm", "hot", "split_seed_a", "split_seed_b")
      .orderBy("cell")
  }

  /**
   * C7 (IVF-PQ variant): inverted-file ANN with product-quantized
   * in-cell scoring — the index layout big ANN deployments actually
   * run, where exact distances against every cell member are too
   * expensive and each candidate is first scored through its `m`-byte
   * PQ code. Pipeline: seeded IVF cells as in [[ivfTopKSeeded]];
   * candidates map-side encode to `m` codes ([[graft.functions.PqCodes]],
   * the only O(D·ks) candidate pass); queries precompute a `m·ks` exact
   * subspace-L2² table ONCE ([[graft.functions.PqAdcTable]]); every
   * (query, candidate) pair inside a probed cell costs `m` table adds
   * ([[graft.functions.PqTableDist]]) instead of a D-dim dot; the
   * `rerankDepth` best by approximate distance (ties → lower id) are
   * exact-cosine reranked to the final top-k. Codebooks are seeded from
   * the first `ks` corpus rows per subspace (deterministic, bounded
   * driver collect — the same contract as the IVF seeds), subspace `j`
   * covering dims `[j·⌈D/m⌉, min((j+1)·⌈D/m⌉, D))`. All integer-exact
   * over quantized vectors, so cell routing, codes, ADC ranks, and the
   * reranked top-k all hash-match a SQL oracle.
   */
  def ivfPqTopKSeeded(
      candidates: DataFrame,
      queries: DataFrame,
      idCol: String,
      quantVecCol: String,
      k: Int,
      nSeeds: Int = 16,
      probes: Int = 2,
      m: Int = 8,
      ks: Int = 16,
      rerankDepth: Int = 32): DataFrame = {
    import graft.functions.PqCodes
    val nSeedRows = math.max(nSeeds, ks)
    val seedRows: Array[Array[Long]] = candidates
      .filter(col(idCol) < nSeedRows).orderBy(idCol)
      .select(col(quantVecCol)).collect().map(_.getSeq[Long](0).toArray)
    require(seedRows.length >= nSeedRows,
      s"need $nSeedRows seed rows with $idCol < $nSeedRows, got ${seedRows.length}")
    val dim = seedRows(0).length
    require(dim >= m, s"vector dim $dim must be >= m=$m")
    val cmat = seedRows.take(nSeeds).map(_.map(_.toDouble))
    val sub = (dim + m - 1) / m
    val cb: Array[Array[Array[Long]]] = Array.tabulate(m) { j =>
      val off = j * sub
      val len = math.min(sub, dim - off)
      seedRows.take(ks).map(_.slice(off, off + len))
    }
    def cells(v: Column, p: Int): Column =
      graft.functions.NearestCells(v.cast("array<double>"), cmat, p)
    val c = candidates.select(
        col(idCol).as("neighbor_id"), col(quantVecCol).as("__cv"),
        dotLong(col(quantVecCol), col(quantVecCol)).as("__ncv"))
      .withColumn("__cell", element_at(cells(col("__cv"), 1), 1))
      .withColumn("__codes", PqCodes(col("__cv"), cb))
    val cRaw = candidates.select(
      col(idCol).as("neighbor_id"), col(quantVecCol).as("__cv"),
      dotLong(col(quantVecCol), col(quantVecCol)).as("__ncv"))
    pqProbe(c, cRaw, queries, idCol, quantVecCol, cmat, cb, k, probes, ks,
      rerankDepth)
  }

  /** Shared ADC-then-rerank tail of the PQ entry points: `c` arrives
   * with (__cell, __codes) already attached (seeded assigns them,
   * indexed reads the cell from the artifact), `cRaw` is the slim
   * payload projection the rerank rejoins. The slim-rank-then-rejoin
   * shape is load-bearing: carrying the per-query ADC table (m·ks
   * longs) and both vectors into the row_number exchange moved ~2 KB
   * per pair (measured 3× plain-IVF wall at 1000×200k) — rank
   * (query, neighbor, adist) only, broadcast the rerankDepth
   * survivors back against the raw projections. */
  private def pqProbe(
      c: DataFrame, cRaw: DataFrame, queries: DataFrame, idCol: String,
      quantVecCol: String, cmat: Array[Array[Double]],
      cb: Array[Array[Array[Long]]], k: Int, probes: Int, ks: Int,
      rerankDepth: Int): DataFrame = {
    import graft.functions.{PqAdcTable, PqTableDist}
    val q = broadcast(queries.select(
        col(idCol).as("query_id"), col(quantVecCol).as("__qv"),
        dotLong(col(quantVecCol), col(quantVecCol)).as("__nqv"))
      .withColumn("__adc", PqAdcTable(col("__qv"), cb))
      .withColumn("__cell", explode(graft.functions.NearestCells(
        col("__qv").cast("array<double>"), cmat, probes))))
    val approx = q.join(c, Seq("__cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("__adist", PqTableDist(col("__adc"), col("__codes"), ks))
      .select("query_id", "neighbor_id", "__adist")
    val wA = Window.partitionBy("query_id")
      .orderBy(col("__adist").asc, col("neighbor_id"))
    val pruned = approx
      .withColumn("__ar", row_number().over(wA))
      .filter(col("__ar") <= rerankDepth)
      .select("query_id", "neighbor_id")
    val qRaw = broadcast(queries.select(
      col(idCol).as("query_id"), col(quantVecCol).as("__qv"),
      dotLong(col(quantVecCol), col(quantVecCol)).as("__nqv")))
    val scored = broadcast(pruned)
      .join(cRaw, Seq("neighbor_id"))
      .join(qRaw, Seq("query_id"))
      .withColumn("cosine",
        dotLong(col("__qv"), col("__cv")).cast("double") /
          sqrt(col("__nqv").cast("double") * col("__ncv").cast("double")))
    topK(scored, k)
  }

  /**
   * C7e: PQ probe of the PUBLISHED index (r18 verdict missing #2 —
   * the warm-start closure C7d gave the exact-dot path, for the PQ
   * path): codebooks derive from the artifact's `is_seed` rows (the
   * same first-ks-by-id contract as [[ivfPqTopKSeeded]], which is why
   * the index must be built with `nSeeds >= ks` to serve PQ warm) and
   * candidates arrive PRE-ASSIGNED via the index's `cell` column — no
   * corpus assignment pass per probe batch. The per-call candidate
   * work is the map-only `PqCodes` encode (O(D·ks) per row, no
   * shuffle); materialize the codes into the artifact downstream if
   * even that matters. Output is identical to [[ivfPqTopKSeeded]]
   * over the same corpus/parameters when the index's seed count
   * >= ks (spec-pinned).
   */
  def ivfPqTopKIndexed(
      index: DataFrame,
      queries: DataFrame,
      idCol: String,
      quantVecCol: String,
      k: Int,
      probes: Int = 2,
      m: Int = 8,
      ks: Int = 16,
      rerankDepth: Int = 32): DataFrame = {
    import graft.functions.PqCodes
    val seedRows: Array[Array[Long]] = index.filter(col("is_seed"))
      .orderBy(idCol).select(col(quantVecCol)).collect()
      .map(_.getSeq[Long](0).toArray)
    require(seedRows.nonEmpty, "index has no is_seed rows")
    require(seedRows.length >= ks,
      s"PQ warm-start needs ks=$ks codebook rows but the index carries " +
        s"only ${seedRows.length} seeds; rebuild with nSeeds >= ks")
    val dim = seedRows(0).length
    require(dim >= m, s"vector dim $dim must be >= m=$m")
    val cmat = seedRows.map(_.map(_.toDouble))
    val sub = (dim + m - 1) / m
    val cb: Array[Array[Array[Long]]] = Array.tabulate(m) { j =>
      val off = j * sub
      val len = math.min(sub, dim - off)
      seedRows.take(ks).map(_.slice(off, off + len))
    }
    val c = index.select(
        col(idCol).as("neighbor_id"), col(quantVecCol).as("__cv"),
        dotLong(col(quantVecCol), col(quantVecCol)).as("__ncv"),
        col("cell").as("__cell"))
      .withColumn("__codes", PqCodes(col("__cv"), cb))
    val cRaw = index.select(
      col(idCol).as("neighbor_id"), col(quantVecCol).as("__cv"),
      dotLong(col(quantVecCol), col(quantVecCol)).as("__ncv"))
    pqProbe(c, cRaw, queries, idCol, quantVecCol, cmat, cb, k, probes, ks,
      rerankDepth)
  }

  /**
   * C5: embedding near-dup pairs — all (a,b) with cosine ≥ threshold,
   * generated within LSH buckets (scale path) or exhaustively over a
   * bounded id range (exact path for verification).
   *
   * `maxBucketSize > 0` bounds the within-bucket quadratic against hot
   * buckets (a boilerplate corpus collapses every near-identical vector
   * into ONE bucket → all-pairs is |corpus|²). Oversized buckets split
   * in two linear passes, mirroring `Dedup.cappedDroppedIds`:
   * identical-vector groups emit STAR pairs against the group's min id
   * (cosine(v,v)=1 passes any threshold ≤ 1, so emitted pairs are true
   * pairs; a g-copy group emits g−1 pairs, not g²/2 — downstream
   * connected components are unchanged), then the one-per-distinct-
   * vector representatives are salt-split by xxhash64(vector) into
   * ⌈reps/maxBucketSize⌉ sub-buckets and all-paired within each. Every
   * emitted pair still passes the exact cosine filter (no false pairs);
   * recall loss is confined to distinct-vector pairs straddling a salt
   * boundary in buckets that exceeded the cap. 0 = exact within-bucket
   * all-pairs, the oracle-checked mode.
   */
  def cosinePairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      bits: Int = 6,
      maxBucketSize: Int = 0): DataFrame = {
    val v = df.select(col(idCol).as("__id"), col(vecCol).as("__v"))
      .withColumn("__bucket", lshBucket(col("__v"), bits))
    def allPairs(src: DataFrame, keyCols: Seq[String]): DataFrame = {
      val a = src.select(
        keyCols.map(col) ++ Seq(col("__id").as("id_a"), col("__v").as("va")): _*)
      val b = src.select(
        keyCols.map(c => col(c).as(s"__b_$c")) ++
          Seq(col("__id").as("id_b"), col("__v").as("vb")): _*)
      val sameKey = keyCols.map(c => col(c) === col(s"__b_$c")).reduce(_ && _)
      a.join(b, sameKey && col("id_a") < col("id_b"))
        .withColumn("cosine", cosine(col("va"), col("vb")))
        .filter(col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    }
    val pairs = if (maxBucketSize <= 0) allPairs(v, Seq("__bucket")) else {
      // shared capped core (Dedup.cappedSplit): small buckets exact,
      // identical-vector dups linear, distinct reps salt-split
      val (small, dups, salted) =
        Dedup.cappedSplit(v, Seq("__bucket"), "__id", maxBucketSize)
      // identical vectors: star pairs vs the group min (same cosine
      // filter as the exact path — zero-norm cosines are NaN and drop)
      val star = dups
        .withColumn("cosine", cosine(col("__v"), col("__v")))
        .filter(col("cosine") >= threshold)
        .select(col("__vrep").as("id_a"), col("__id").as("id_b"), col("cosine"))
      allPairs(small, Seq("__bucket"))
        .union(star)
        .union(allPairs(salted, Seq("__bucket", "__salt")))
    }
    pairs.distinct()
  }

  /**
   * C72: hard-negative mining — for each query, the top-k most-similar
   * candidates whose label DIFFERS from the query's (the contrastive-
   * training data op: the negatives that are hard precisely because
   * they look like positives). Same scale shape as [[bruteTopK]]
   * (query set broadcast, one candidate scan, k-bounded per-query
   * rank); the label inequality rides the broadcast join condition, so
   * no extra shuffle exists. At corpus scale, use [[hardNegativesIvf]]:
   * same contract, but the candidate front is the seeded-IVF cell probe
   * instead of a full-corpus nested-loop scan. Exact integer dots →
   * ranks replay bit-for-bit in the oracle.
   */
  def hardNegatives(
      candidates: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(labelCol).as("__ql"), col(vecCol).as("__qv")))
    val c = candidates.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("__cl"), col(vecCol).as("__cv"))
    // nanvl: a zero-norm side yields cosine NaN, and Spark ranks NaN
    // ABOVE every double in a desc sort — it would surface as the
    // rank-1 "hard negative" for every query; score it −2 instead
    val scored = q.join(c, col("__ql") =!= col("__cl"))
      .withColumn("cosine", nanvl(
        dotLong(col("__qv"), col("__cv")).cast("double") /
          sqrt(dotLong(col("__qv"), col("__qv")).cast("double") *
            dotLong(col("__cv"), col("__cv")).cast("double")),
        lit(-2.0)))
    topK(scored, k)
  }

  /**
   * C72 (corpus-scale variant): IVF-fronted hard-negative mining — the
   * [[hardNegatives]] contract behind the [[ivfTopKSeeded]] candidate
   * front. [[hardNegatives]]' exact front is a broadcast NESTED-LOOP
   * join (the label inequality is non-equi), so every query pays a
   * full candidate scan — fine for bounded probe sets, wrong at corpus
   * scale. Here candidates take their nearest seeded cell ONCE
   * (codegen [[graft.functions.NearestCells]]), queries explode to
   * their `probes` best cells, and the join is a broadcast HASH join
   * on the cell id — per query the scan shrinks to probes/nSeeds of
   * the corpus, and the non-equi label test is a post-join residual,
   * not the join condition. Deterministic seeds + exact integer dots,
   * so cell routing AND the reranked top-k hash-match the SQL oracle
   * exactly (mined negatives are approximate vs [[hardNegatives]] only
   * in the IVF sense: a cross-cell near-miss is not probed — the
   * standard ANN recall trade, measured in the spec).
   */
  def hardNegativesIvf(
      candidates: DataFrame,
      queries: DataFrame,
      idCol: String,
      quantVecCol: String,
      labelCol: String,
      k: Int,
      nSeeds: Int = 16,
      probes: Int = 2): DataFrame = {
    val cmat = collectSeeds(candidates, idCol, quantVecCol, col(idCol) < nSeeds)
    require(cmat.nonEmpty, s"no seed rows with $idCol < $nSeeds")
    def cells(v: Column, p: Int): Column =
      graft.functions.NearestCells(v.cast("array<double>"), cmat, p)
    val c = candidates.select(
        col(idCol).as("neighbor_id"), col(labelCol).as("__cl"),
        col(quantVecCol).as("__cv"),
        dotLong(col(quantVecCol), col(quantVecCol)).as("__ncv"))
      .withColumn("__cell", element_at(cells(col("__cv"), 1), 1))
    val q = broadcast(queries.select(
        col(idCol).as("query_id"), col(labelCol).as("__ql"),
        col(quantVecCol).as("__qv"),
        dotLong(col(quantVecCol), col(quantVecCol)).as("__nqv"))
      .withColumn("__cell", explode(cells(col("__qv"), probes))))
    // nanvl: same NaN-ranks-first guard as hardNegatives
    val scored = q.join(c, Seq("__cell"))
      .filter(col("query_id") =!= col("neighbor_id") &&
        col("__ql") =!= col("__cl"))
      .withColumn("cosine", nanvl(
        dotLong(col("__qv"), col("__cv")).cast("double") /
          sqrt(col("__nqv").cast("double") * col("__ncv").cast("double")),
        lit(-2.0)))
    topK(scored, k)
  }

  /**
   * C73: margin-based pair mining (the Artetxe & Schwenk 2019
   * criterion behind CCMatrix/LASER bitext mining): a cross-side pair
   * (x, y) is a real alignment not when cos(x, y) is high in absolute
   * terms but when it stands out above each side's neighborhood —
   * margin = cos(x,y) − mean(2-NN of x) / 2 − mean(2-NN of y) / 2,
   * best y per x, global top pairs. Hubness (a y that is everyone's
   * nearest neighbor) cancels out of the margin, which is the whole
   * point of the criterion.
   *
   * Engine-portable float discipline: ranks and margins are computed
   * on cos ROUNDED to 6 dp (exact integer dots underneath), so no
   * cross-engine ulp can flip a rank; k is fixed at 2 so every mean is
   * a two-term sum — explicitly parenthesized, hence one IEEE
   * evaluation order in both engines (a k-term SQL SUM has no defined
   * association order; that nondeterminism is why k is not a knob).
   * A side with a single row has no 2-NN; its missing term coalesces
   * to the 1-NN value (margin degrades to cos − 1-NN means) instead of
   * nulling every margin.
   *
   * Scale shape: the pair table is the contract — here a bounded
   * cross join (broadcast × scan), at corpus scale the SAME downstream
   * (rank → 2-NN pivot → margin → best-per-x) runs on ANN-generated
   * candidate pairs instead. The ranked pair table is persisted+pinned:
   * three consumers (both NN pivots + the margin join) would otherwise
   * recompute it (df⋈aggregate(df) rule).
   */
  def marginPairs(
      xs: DataFrame,
      ys: DataFrame,
      idCol: String,
      vecCol: String,
      topPairs: Int = 50): DataFrame = {
    val a = xs.select(col(idCol).as("x_id"), col(vecCol).as("__xv"))
    val b = ys.select(col(idCol).as("y_id"), col(vecCol).as("__yv"))
    // nanvl as in hardNegatives: a zero-norm side must rank LAST, not
    // NaN-first
    val pairs = broadcast(a).join(b)
      .withColumn("cos6", round(nanvl(
        dotLong(col("__xv"), col("__yv")).cast("double") /
          sqrt(dotLong(col("__xv"), col("__xv")).cast("double") *
            dotLong(col("__yv"), col("__yv")).cast("double")),
        lit(-2.0)), 6))
      .select("x_id", "y_id", "cos6")
    val wx = Window.partitionBy("x_id").orderBy(col("cos6").desc, col("y_id"))
    val wy = Window.partitionBy("y_id").orderBy(col("cos6").desc, col("x_id"))
    val ranked = Scoped.pinned(pairs
      .withColumn("rx", row_number().over(wx))
      .withColumn("ry", row_number().over(wy)))
    val nnx = ranked.groupBy("x_id").agg(
      max(when(col("rx") === 1, col("cos6"))).as("n1"),
      max(when(col("rx") === 2, col("cos6"))).as("n2"))
    val nny = ranked.groupBy("y_id").agg(
      max(when(col("ry") === 1, col("cos6"))).as("m1"),
      max(when(col("ry") === 2, col("cos6"))).as("m2"))
    val wb = Window.partitionBy("x_id").orderBy(col("margin").desc, col("y_id"))
    // degenerate sides (<2 rows): the 2-NN slot is null, and a null
    // term would null EVERY margin (whose null-last desc order then
    // differs between engines) — coalesce the missing 2-NN to the 1-NN
    // value so the two-term mean degrades to the 1-NN cosine.
    ranked.join(nnx, "x_id").join(nny, "y_id")
      .withColumn("margin", round(
        col("cos6") - (col("n1") + coalesce(col("n2"), col("n1"))) / 4
          - (col("m1") + coalesce(col("m2"), col("m1"))) / 4, 6))
      .withColumn("__best", row_number().over(wb))
      .filter(col("__best") === 1)
      .select(col("x_id"), col("y_id"), col("cos6").as("cosine"), col("margin"))
      .orderBy(col("margin").desc, col("x_id"))
      .limit(topPairs)
  }

  /**
   * C76: semantic decontamination — the embedding-space counterpart of
   * C16's n-gram decontamination (the eval-leak filter modern pipelines
   * run in BOTH spaces: paraphrased benchmark rows slip past n-gram
   * overlap but not past cosine): drop every corpus vector whose
   * cosine to ANY benchmark vector reaches `tau`.
   *
   * The benchmark set is DRIVER state (the bounded small-side contract
   * of the ANN query vectors — eval sets are thousands of rows, not
   * corpora), compiled into one codegen'd dot per benchmark vector
   * against the scan; `max_bench_cos = greatest(...)` keeps the
   * evidence column. No join, no shuffle, ONE corpus scan — and the
   * expressions are stateless, so the SAME function filters a
   * STREAMING DataFrame per micro-batch unchanged (D17).
   */
  def semanticDecontaminate(
      corpus: DataFrame,
      benchVecs: Array[Array[Long]],
      vecCol: String,
      tau: Double): DataFrame = {
    require(benchVecs.nonEmpty && tau > 0)
    // NaN guards: a zero-norm benchmark vector would turn EVERY cosine
    // NaN and (NaN < tau = false) silently drop the whole corpus —
    // drop such rows from the eval set at the driver; a zero-norm
    // CORPUS vector has no direction to match, so it scores −1 (kept).
    val bench = benchVecs.filter(_.exists(_ != 0L))
    if (bench.isEmpty) corpus.withColumn("max_bench_cos", lit(-1.0))
    else {
      val na = dotLong(col(vecCol), col(vecCol)).cast("double")
      val cosCols = bench.map { bv =>
        val nb = bv.map(x => x * x).sum.toDouble
        when(na > 0,
          dotLong(col(vecCol), typedlit(bv.toSeq)).cast("double") / sqrt(na * lit(nb)))
          .otherwise(lit(-1.0))
      }
      corpus
        .withColumn("max_bench_cos", cosCols.reduce((a, b) => greatest(a, b)))
        .filter(col("max_bench_cos") < tau)
    }
  }

  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }
}
