package graft.operators

import graft.functions.{Md5HexSlice, TextFunctions => TF}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Capstone composition: the end-to-end shape of an LLM training-data
 * pipeline over a raw document corpus, built entirely from the C-tier
 * operators — each stage is a narrow, shuffle-bounded transformation, so
 * the whole pipeline is the sum of its parts at 100 TB:
 *
 *  1. redact: PII scrubbing (map-only)
 *  2. annotate: language ID, token counts, quality features (map-only)
 *  3. filter: quality gates (map-only, pushes into the scan)
 *  4. blocklist: bloom-filter membership drop (map-only, KB sketch)
 *  5. decontaminate: n-gram overlap vs benchmark set (semi-join on
 *     shingles — benchmark side broadcast)
 *  6. exact dedup (one hash shuffle on the fingerprint)
 *  7. near dedup (MinHash-LSH bucket shuffle + verify join)
 *  8. stable md5 bucketing for train/val/test splits (map-only)
 *
 * Hashed keys: every corpus operator here (and `Dedup.containmentPairs`)
 * keys its wide shuffles by the 8-byte `xxhash64` of the gram, chunk or
 * term string instead of the string itself — one plan per operator, no
 * string-key twin. Two of k distinct keys collide with odds about
 * k²/2⁶⁵ (a collision merges their counts). Outputs carry counts,
 * scores and ids, never the hashed keys, so the DuckDB oracle's replay
 * over exact strings still hash-matches.
 */
object CorpusPipeline {

  /** Stage 0: scrub emails / IP addresses / phone numbers. */
  def redactPii(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.withColumn(textCol, TF.redactPii(col(textCol)))

  /** Drop documents whose fingerprint hash is in a bloom blocklist
   * (e.g. previously-ingested or opted-out content). The sketch is a
   * driver-held byte array; probing is map-only. False positives drop
   * ~fpp% extra docs; false negatives never happen. */
  def bloomBlocklist(docs: DataFrame, blocklist: Array[Byte],
      textCol: String = "text"): DataFrame =
    docs.filter(!graft.functions.BloomFunctions.mightContain(
      blocklist, xxhash64(TF.fingerprintMd5(col(textCol)))))

  /**
   * Drop documents sharing any word n-gram with a benchmark/eval set —
   * the standard pre-training decontamination pass. The benchmark's
   * shingle set is broadcast (eval sets are tiny vs the corpus); the
   * corpus side explodes shingles and anti-joins, so the only wide
   * state is the per-doc shingle stream, never a cartesian product.
   */
  def decontaminate(
      docs: DataFrame,
      benchmark: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 8): DataFrame = {
    val benchShingles = benchmark
      .select(explode(TF.shingles(col(textCol), n)).as("__sh")).distinct()
    val contaminated = docs
      .select(col(idCol).as("__cid"), explode(TF.shingles(col(textCol), n)).as("__sh"))
      .join(broadcast(benchShingles), Seq("__sh"), "left_semi")
      .select("__cid").distinct()
    docs.join(contaminated, docs(idCol) === col("__cid"), "left_anti")
  }

  /** Stage 1: per-document annotations (all built-in codegen'd exprs).
   * The padded-lowered text for language ID is materialized once —
   * codegen CSE skips CASE arms, so the inline form re-pads per
   * branch. */
  def annotate(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .withColumn("__padded", concat(lit(" "), lower(col(textCol)), lit(" ")))
      .withColumn("lang_pred", TF.langIdPadded(col(textCol), col("__padded")))
      .drop("__padded")
      .withColumn("n_tokens", TF.tokenCount(col(textCol)))
      .withColumn("n_chars_measured", TF.charCount(col(textCol)))
      .withColumn("punct_ratio",
        TF.punctCount(col(textCol)).cast(DoubleType) /
          greatest(TF.charCount(col(textCol)), lit(1)))
      .withColumn("stopword_ratio",
        TF.stopwordCount(col(textCol)).cast(DoubleType) /
          greatest(TF.tokenCount(col(textCol)), lit(1)))
      .withColumn("fingerprint", TF.fingerprintMd5(col(textCol)))

  /**
   * Dataset mixing: deterministic per-source downsampling (content-
   * hashed, so reprocessing keeps the same rows — no RNG state). Rates
   * are fractions in [0,1]; sources missing from the map keep rate
   * `defaultRate`. A 10000-bucket hash gives 0.01% rate granularity.
   */
  def sampleBySource(
      docs: DataFrame,
      rates: Map[String, Double],
      sourceCol: String = "source",
      textCol: String = "text",
      defaultRate: Double = 1.0): DataFrame = {
    val rateCol = rates.foldLeft(lit(defaultRate)) { case (acc, (src, r)) =>
      when(col(sourceCol) === src, lit(r)).otherwise(acc)
    }
    docs.filter(
      TF.md5Bucket(col(textCol), 10000).cast(DoubleType) < rateCol * 10000)
  }

  /**
   * C50: temperature-scaled mixture solver + deterministic application
   * (the multilingual/source-balancing step of mT5/XLM-R-style
   * training mixes): given a token budget, compute per-source sampling
   * weights ∝ n_tokens^(1/2) — temperature sampling at α=0.5, the
   * standard "flatten the head, boost the tail" exponent — derive each
   * source's token target and admission rate, and apply the rate as a
   * reprocessing-stable content-hash filter ([[TF.md5Bucket]] in ppm).
   *
   * Exactness: weight = integer √(n_tokens) (floor-sqrt with a ±1
   * correction, so the double `sqrt` rounding can never change the
   * result); targets/rates are computed driver-side in BigInt over the
   * |sources|-row stats table (a bounded metadata-scale collect — the
   * BloomFunctions.build pattern), so `weight·budget` cannot overflow
   * and both engines reproduce every rate bit-for-bit.
   *
   * Scale shape: ONE slim projection of the corpus — (source, tokens,
   * hash-bucket), three small columns — persisted+pinned feeds both
   * the stats aggregate and the admission pass; both aggregates are
   * map-side combining, the rate table joins back broadcast. The
   * cached projection outlives this call (the returned DataFrame
   * references it) — loop callers wrap in [[Scoped.withCached]].
   *
   * Output per source: n_docs, n_tokens, weight, target_tokens,
   * rate_ppm, admitted_docs, admitted_tokens.
   */
  /**
   * C107: UniMax language sampling (Chung et al. 2023 — the mT5/PaLM-2
   * successor to C50's temperature mixture): instead of a fixed
   * exponent, cap every language at `maxEpochs` passes over its data
   * and water-fill the remaining budget UNIFORMLY — low-resource
   * languages get their full (capped) corpus, high-resource ones split
   * what's left evenly, and no language is oversampled past the epoch
   * cap. Exact integer water-filling: languages ascend by token count
   * (ties by UTF8-binary language name); at each step
   * alloc = min(n·maxEpochs, remaining div remainingLangs) — because
   * caps are visited ascending, a cap that binds frees budget for
   * every LARGER language, which is exactly the uniform-water-level
   * fixpoint.
   *
   * Scale shape: ONE map-side-combining (lang, token-sum) aggregate —
   * the |languages|-row metadata collect ([[temperatureMixture]]'s
   * bounded-stats pattern) — then O(L) driver longs; the returned
   * L-row frame is a local relation. Output per language: n_tokens,
   * alloc_tokens, epochs_milli (1000·alloc/n, floor).
   */
  def unimaxMixture(
      docs: DataFrame,
      budgetTokens: Long,
      maxEpochs: Int = 4,
      langCol: String = "lang",
      textCol: String = "text"): DataFrame = {
    require(budgetTokens >= 0 && maxEpochs >= 1)
    val spark = docs.sparkSession
    val utf8Lt = (a: String, b: String) =>
      org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)) < 0
    val counts = docs
      .filter(col(langCol).isNotNull)
      .groupBy(col(langCol).cast(StringType).as("__lg"))
      .agg(coalesce(sum(TF.tokenCount(col(textCol)).cast(LongType)), lit(0L))
        .as("__n"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortWith { case ((la, na), (lb, nb)) =>
        na < nb || (na == nb && utf8Lt(la, lb))
      }
    var remaining = budgetTokens
    var left = counts.length
    val rows = counts.map { case (lg, n) =>
      val cap = n * maxEpochs
      val fair = if (left > 0) remaining / left else 0L
      val alloc = math.min(cap, fair)
      remaining -= alloc
      left -= 1
      org.apache.spark.sql.Row(lg, n, alloc,
        alloc * 1000L / math.max(n, 1L))
    }.sortBy(_.getString(0))(Ordering.comparatorToOrdering(
      java.util.Comparator.comparing[String, org.apache.spark.unsafe.types.UTF8String](
        (x: String) => org.apache.spark.unsafe.types.UTF8String.fromString(x))))
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("lang", StringType, nullable = false),
        org.apache.spark.sql.types.StructField("n_tokens", LongType, nullable = false),
        org.apache.spark.sql.types.StructField("alloc_tokens", LongType, nullable = false),
        org.apache.spark.sql.types.StructField("epochs_milli", LongType, nullable = false))))
  }

  def temperatureMixture(
      docs: DataFrame,
      budgetTokens: Long,
      sourceCol: String = "source",
      textCol: String = "text"): DataFrame = {
    require(budgetTokens >= 0)
    val spark = docs.sparkSession
    // feeds the stats aggregate AND the admission pass
    val perDoc = docs
      .select(
        col(sourceCol).as("__src"),
        coalesce(TF.tokenCount(col(textCol)).cast(LongType), lit(0L)).as("__t"),
        TF.md5Bucket(col(textCol), 1000000).as("__b"))
      .transform(Scoped.pinned)
    val s0 = floor(sqrt(col("n_tokens").cast(DoubleType))).cast(LongType)
    val isqrt = when((s0 + 1) * (s0 + 1) <= col("n_tokens"), s0 + 1)
      .when(s0 * s0 > col("n_tokens"), s0 - 1)
      .otherwise(s0)
    val stats = perDoc.groupBy("__src")
      .agg(count(lit(1)).as("n_docs"), sum("__t").as("n_tokens"))
      .withColumn("weight", isqrt)
      .collect() // |sources| rows — bounded metadata-scale driver state
    val wSum = stats.map(r => BigInt(r.getLong(3))).sum.max(BigInt(1))
    val rates = stats.map { r =>
      val nTokens = BigInt(r.getLong(2)).max(BigInt(1))
      val target = (BigInt(r.getLong(3)) * budgetTokens / wSum).toLong
      val ratePpm = (BigInt(target) * 1000000 / nTokens).min(BigInt(1000000)).toLong
      Row(r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), target, ratePpm)
    }
    val rateDf = spark.createDataFrame(
      java.util.Arrays.asList(rates: _*),
      StructType(Seq(
        StructField("__src", StringType),
        StructField("n_docs", LongType),
        StructField("n_tokens", LongType),
        StructField("weight", LongType),
        StructField("target_tokens", LongType),
        StructField("rate_ppm", LongType))))
    val admitted = perDoc.join(broadcast(rateDf.select("__src", "rate_ppm")), Seq("__src"))
      .filter(col("__b") < col("rate_ppm"))
      .groupBy("__src")
      .agg(count(lit(1)).as("admitted_docs"), sum("__t").as("admitted_tokens"))
    rateDf.join(admitted, Seq("__src"), "left")
      .select(
        col("__src").as(sourceCol),
        col("n_docs"), col("n_tokens"), col("weight"),
        col("target_tokens"), col("rate_ppm"),
        coalesce(col("admitted_docs"), lit(0L)).as("admitted_docs"),
        coalesce(col("admitted_tokens"), lit(0L)).as("admitted_tokens"))
  }

  /**
   * C22: per-source duplicated n-gram mass — how much of each source's
   * gram stream also occurs elsewhere in the corpus (the dataset-
   * curation repetition metric). r10 plan (replaces the per-gram
   * `collect_list((source, count))` carry + explode-back, which
   * allocated one small list per distinct gram — ~16M at the ×100
   * tier — and before that a (source, gram) pre-aggregate that barely
   * reduced cardinality on near-unique gram streams): the gram stream
   * is shuffled ONCE, into a per-gram aggregate whose whole state is
   * two longs — instance count `c` and a source BITMASK (`bit_or` of
   * `1L << sourceIndex`), pure codegen, zero allocation. Everything
   * else is algebra:
   *
   *   dup_instances(source)
   *     = gram_instances(source) − #{grams of source with corpus c=1}
   *
   * (a c=1 gram has exactly one instance, so its mask IS its owning
   * source's bit; every c>1 gram's whole instance count is duplicated
   * mass by definition); gram_instances(source) never touches the gram
   * stream at all — WordShingles emits max(tokens−n+1, 1) windows, so
   * it is a map-only `sum(greatest(token_count−(n−1), 1))` over
   * documents; distinct/unique-gram counts melt through one map-side-
   * combining aggregate into 2·|sources| columns of a single row,
   * exploded back to rows. One wide shuffle total, nothing persisted,
   * nothing collected but the source-label list (≤62 — a metadata-
   * scale pruned-column distinct; larger or null-labeled corpora fall
   * back to [[dupGramStatsGeneral]]). Measured ×100 solo (ParallelGC
   * 12g, local[32], median of 3): 19.0 s → 10.8 s, and the one wide
   * stage's shuffle write drops from 367+390 MB to 356 MB total. Known
   * toy-tier artifact: the caller's round-robin repartition exchange
   * runs twice (projection pushdown through RoundRobin specializes the
   * scan per consumer, defeating ReusedExchange) — on real pre-split
   * input no repartition is injected and the second pass is a cheap
   * pruned-column scan. Hashing the gram keys (see the object header)
   * made this 2x faster at 1M docs (40 s → 20 s, local[32]).
   */
  def dupGramStats(
      docs: DataFrame,
      n: Int = 8,
      sourceCol: String = "source",
      textCol: String = "text"): DataFrame = {
    // The source label set is tiny (a mixture has dozens of corpora, not
    // thousands) and column pruning makes fetching it a metadata-scale
    // scan; ≤62 non-null sources unlock the bitmask plan below.
    val srcRows = docs.select(col(sourceCol).cast(StringType)).distinct()
      .limit(63).collect().map(r => if (r.isNullAt(0)) null else r.getString(0))
    if (srcRows.length > 62 || srcRows.contains(null))
      return dupGramStatsGeneral(docs, n, sourceCol, textCol)

    val srcList = srcRows.sorted
    val grams = docs.select(
      col(sourceCol).as("source"), explode(TF.shingles(col(textCol), n)).as("gs"))
      .select(col("source"), xxhash64(col("gs")).as("g"))
    // Per-gram state is (instance count, source BITMASK) — two longs,
    // zero allocation, pure codegen — instead of a per-gram collected
    // (source, count) list. A corpus-count-1 gram has exactly one
    // instance, so its mask is exactly its owning source's bit.
    val bit = srcList.zipWithIndex.foldLeft(lit(0L)) { case (acc, (s, i)) =>
      when(col("source") === s, lit(1L << i)).otherwise(acc)
    }
    val perGram = grams.select(col("g"), bit.as("b"))
      .groupBy("g").agg(count(lit(1)).as("c"), bit_or(col("b")).as("mask"))
    // Melt: one map-side-combining aggregate produces every source's
    // distinct-gram and unique-gram counts as 2·|sources| columns of a
    // single row, exploded back to rows — no second wide shuffle.
    val aggs = srcList.zipWithIndex.flatMap { case (_, i) =>
      Seq(
        sum(when(col("mask").bitwiseAND(lit(1L << i)) =!= 0L, 1L).otherwise(0L))
          .as(s"dg_$i"),
        sum(when(col("c") === 1L && col("mask") === lit(1L << i), 1L).otherwise(0L))
          .as(s"uq_$i"))
    }
    val one = perGram.agg(aggs.head, aggs.tail: _*)
    val entries = array(srcList.zipWithIndex.map { case (s, i) =>
      struct(lit(s).as("source"), col(s"dg_$i").as("distinct_grams"),
        col(s"uq_$i").as("uniq_grams"))
    }: _*)
    val melted = one.select(explode(entries).as("e")).select(col("e.*"))
    // gram_instances never touches the gram stream: WordShingles emits
    // max(tokens − n + 1, 1) windows per non-null text (empty text
    // splits to one empty token → one whole-doc shingle), so the
    // per-source instance total is a map-only sum over documents.
    val srcTotals = docs.groupBy(col(sourceCol).as("source")).agg(
      sum(greatest(TF.tokenCount(col(textCol)) - (n - 1), lit(1)).cast(LongType))
        .as("gram_instances"))
      .filter(col("gram_instances").isNotNull) // all-null-text sources have no grams
    srcTotals.join(melted, Seq("source"))
      .select(
        col("source"),
        col("gram_instances"),
        (col("gram_instances") - col("uniq_grams")).as("dup_instances"),
        col("distinct_grams"))
  }

  /** General-shape fallback for >62 or null source labels: the
   * (source, gram) count table persisted+pinned and consumed by a
   * per-source stats pass and a list-free per-gram aggregate, using the
   * same c=1 identity (`dup = total − unique`; a count-1 gram's single
   * (source, gram) row names its owner). */
  private def dupGramStatsGeneral(
      docs: DataFrame,
      n: Int,
      sourceCol: String,
      textCol: String): DataFrame = {
    val grams = docs.select(
      col(sourceCol).as("source"), explode(TF.shingles(col(textCol), n)).as("gs"))
      .select(col("source"), xxhash64(col("gs")).as("g"))
    val sg = grams.groupBy("source", "g").agg(count(lit(1)).as("sc"))
      .transform(Scoped.pinned)
    val srcStats = sg.groupBy("source").agg(
      sum(col("sc")).as("gram_instances"),
      count(lit(1)).as("distinct_grams"))
    val uniq = sg.groupBy("g")
      .agg(sum(col("sc")).as("c"), min(col("source")).as("source"))
      .filter(col("c") === 1)
      .groupBy("source").agg(count(lit(1)).as("uniq_grams"))
    srcStats.join(uniq, Seq("source"), "left")
      .select(
        col("source"),
        col("gram_instances"),
        (col("gram_instances") - coalesce(col("uniq_grams"), lit(0L)))
          .as("dup_instances"),
        col("distinct_grams"))
  }

  /**
   * C24: pack documents into `nShards` near-token-balanced shards (the
   * "sequence packing" step before training-data serialization):
   * round-robin over the global size rank. The sort by (tokens desc,
   * id) is a fully parallel range-partitioned sort, and the global rank
   * comes from [[ExactQuantiles.withPosition]] (one extra count job,
   * O(partitions) driver state). Near-perfect token balance even with
   * heavy tails.
   */
  def packShards(
      docs: DataFrame,
      nShards: Int,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(nShards > 0)
    val sorted = docs.withColumn("n_tok", TF.tokenCount(col(textCol)).cast(LongType))
      .sort(col("n_tok").desc, col(idCol))
    ExactQuantiles.withPosition(sorted, "shard")
      .withColumn("shard", col("shard") % nShards)
  }

  /**
   * C28: deterministic global training-order shuffle. Every document
   * gets a reproducible position in the training stream (and its
   * round-robin shard) by sorting on `md5(seed || id)` — reshuffling
   * with a new seed is just a new constant, and any engine with md5
   * reproduces the exact order, so the full permutation is
   * oracle-checkable. The sort is a parallel range-partitioned sort;
   * the global position comes from [[ExactQuantiles.withPosition]]
   * (one extra count job, O(partitions) driver state, no
   * single-partition window).
   */
  def shuffleOrder(
      docs: DataFrame,
      nShards: Int,
      seed: String = "graft",
      idCol: String = "doc_id"): DataFrame = {
    require(nShards > 0)
    val sorted = docs.withColumn("__k",
      md5(concat(lit(seed), col(idCol).cast(StringType))))
      .sort(col("__k"), col(idCol))
    ExactQuantiles.withPosition(sorted, "pos")
      .withColumn("shard", col("pos") % nShards)
      .drop("__k")
  }

  /**
   * C77: curriculum ordering — the easy-first training schedule
   * (Bengio et al. 2009 shape): rank every document by a difficulty
   * score (corpus-unigram rarity, [[lmSurprisal]] — integer, engine-
   * replayable), cut the ranking into `phases` EQUAL-COUNT phases with
   * pure integer arithmetic (`rank·phases div n` — no ntile remainder
   * ambiguity to disagree across engines), then order easy phases
   * first with the reproducible md5 shuffle WITHIN each phase (the
   * [[shuffleOrder]] principle — a curriculum that is sorted inside a
   * phase would reintroduce length/topic correlation batches).
   *
   * Scale shape: both global orders materialize through the
   * [[shuffleOrder]] path — a distributed range sort + row position,
   * never a single-partition window; the difficulty table is the
   * lmSurprisal join (vocab-bounded LM side); driver state = one
   * count. Output: per phase — size, rarity bounds, the first doc in
   * curriculum order, and an integer order fingerprint
   * Σ pos·(id mod 97) that pins every position of the schedule
   * (long-safe past 10⁸ docs).
   */
  def curriculumOrder(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      phases: Int = 4,
      seed: String = "curr"): DataFrame = {
    require(phases > 0)
    // persist the slim (id, rarity) table: the two chained position
    // passes each fire an extra partition-count job, and uncached they
    // would re-run the whole lmSurprisal explode+join chain ~4x; the
    // count below doubles as the eager pin
    val sc0 = Scoped.persistTracked(
      lmSurprisal(docs, idCol, textCol).select(col(idCol), col("rarity")))
    val n = math.max(sc0.count(), 1L)
    // persist the ranked RDD-backed frame too: the second position pass
    // (partition-count job + map) and the final aggregate are
    // SEQUENTIAL consumers, so the first materialization populates the
    // cache (no eager pin needed — the checkpoint-per-round lesson)
    val ranked = Scoped.persistTracked(ExactQuantiles.withPosition(
      sc0.sort(col("rarity"), col(idCol)), "__r"))
    val ordered = ranked
      .withColumn("phase", expr(s"__r * $phases div ${n}L"))
      .withColumn("__k", md5(concat(lit(seed), col(idCol).cast(StringType))))
      .sort(col("phase"), col("__k"), col(idCol))
    ExactQuantiles.withPosition(ordered, "pos").groupBy("phase").agg(
        count(lit(1)).as("n"),
        min("rarity").as("min_rarity"),
        max("rarity").as("max_rarity"),
        min_by(col(idCol), col("pos")).as("first_doc"),
        sum(expr(s"pos * ($idCol % 97)")).as("order_fp"))
      .orderBy("phase")
  }

  /**
   * C78: packing-efficiency audit — the pad-waste table that justifies
   * concat-and-chunk packing ([[packedSequenceSpans]]) over per-doc
   * chunking ([[chunkSequences]]): per-doc packing pads EVERY
   * document's last sequence (waste grows with the doc count),
   * concat-and-chunk pads only the corpus tail (waste < seqLen total).
   * One scan, one aggregate, all integer — `util_*_ppm` is exact
   * (bound: total_tokens·10⁶ must fit a long → fine to ~9·10¹²
   * tokens; shard the audit above that).
   */
  def packingEfficiency(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      seqLen: Int = 2048,
      eosTokens: Int = 1): DataFrame = {
    require(seqLen > 0 && eosTokens >= 0)
    val t = coalesce(TF.tokenCount(col(textCol)).cast(LongType), lit(0L)) + eosTokens
    docs.select(t.as("__t"))
      .agg(
        sum("__t").as("total_tokens"),
        sum(expr(s"(__t + ${seqLen - 1}) div $seqLen")).as("seqs_perdoc"))
      .withColumn("pad_perdoc", expr(s"seqs_perdoc * $seqLen - total_tokens"))
      .withColumn("util_perdoc_ppm",
        expr(s"total_tokens * 1000000 div (seqs_perdoc * $seqLen)"))
      .withColumn("seqs_concat", expr(s"(total_tokens + ${seqLen - 1}) div $seqLen"))
      .withColumn("pad_concat", expr(s"seqs_concat * $seqLen - total_tokens"))
      .withColumn("util_concat_ppm",
        expr(s"total_tokens * 1000000 div (seqs_concat * $seqLen)"))
  }

  /**
   * C30: fixed-budget sequence chunking — split each document's token
   * stream into consecutive `maxTokens`-token chunks (training-sequence
   * prep: long documents become several sequences, short ones keep
   * one). Map-only: tokenize once, explode ceil(n/maxTokens) chunk
   * indices, slice — no shuffle, no state, embarrassingly parallel at
   * any scale. Whitespace tokenization + single-space re-join keeps the
   * transform exactly reproducible in any engine; empty documents yield
   * no chunks. Output: input id + (chunk_id, chunk_tokens, chunk_text).
   */
  def chunkSequences(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxTokens: Int): DataFrame = {
    require(maxTokens > 0, "maxTokens must be positive")
    // tokens() leaves stray "" tokens (e.g. all-whitespace text);
    // array_remove drops it codegen'd — no interpreted HOF in this
    // map-only hot path (CLAUDE.md: HOF lambdas run interpreted)
    docs
      .withColumn("__toks", array_remove(TF.tokens(col(textCol)), ""))
      .withColumn("__n", size(col("__toks")))
      .filter(col("__n") > 0)
      .withColumn("chunk_id",
        explode(sequence(lit(0),
          floor((col("__n") + (maxTokens - 1)) / maxTokens).cast("int") - 1)))
      .select(
        col(idCol),
        col("chunk_id"),
        least(col("__n") - col("chunk_id") * maxTokens, lit(maxTokens)).as("chunk_tokens"),
        array_join(
          slice(col("__toks"), col("chunk_id") * maxTokens + 1, lit(maxTokens)),
          " ").as("chunk_text"))
  }

  /**
   * C31: intra-document repeated-sentence removal (the RefinedWeb /
   * Gopher repetition scrub): keep the FIRST occurrence of each
   * distinct sentence within a document, preserve original order,
   * rejoin with ". ". Two shuffles, both keyed on the doc id (plus the
   * sentence for the first-occurrence window) — per-key state is one
   * document's sentences, so the operator scales with corpus size, not
   * document count per worker. Output: idCol, kept_sentences,
   * text_dedup. Documents with no sentences (empty/whitespace/NULL
   * text) produce NO output row — rejoin on the id downstream if those
   * must be preserved.
   */
  def dedupWithinDoc(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sent = docs.select(
      col(idCol),
      posexplode(graft.functions.TextFunctions.sentences(col(textCol)))
        .as(Seq("__idx", "__s")))
    val firstOcc = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol), col("__s")).orderBy(col("__idx"))
    sent
      .withColumn("__rn", row_number().over(firstOcc))
      .filter(col("__rn") === 1)
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("kept_sentences"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("__idx"), col("__s")))),
            x => x.getField("__s")),
          ". ").as("text_dedup"))
  }

  /**
   * C37: corpus-wide duplicated-sentence scrub (the cross-document
   * variant of [[dedupWithinDoc]], as in RefinedWeb's exact line
   * dedup): keep only the globally FIRST occurrence of every distinct
   * sentence — first under the deterministic (id, position) order —
   * and reassemble each document from its surviving sentences.
   * Scale shape: per-sentence firsts come from a map-side-combining
   * `min(struct(id, idx))` aggregate, NOT a per-sentence row_number
   * window — a boilerplate line repeated 100M times reduces to one
   * min under partial aggregation instead of single-task-sorting its
   * partition. The join back is sentence-co-partitioned with that
   * aggregate (one shuffle key reused), and reassembly is one
   * doc-keyed aggregate. Documents whose every sentence occurred
   * earlier still get a row (kept_sentences = 0, empty text_dedup);
   * only empty/whitespace docs vanish, as in [[dedupWithinDoc]].
   */
  def dedupAcrossDocs(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sent = docs.select(
      col(idCol),
      posexplode(TF.sentences(col(textCol))).as(Seq("__idx", "__s")))
    val firsts = sent
      .groupBy(col("__s"))
      .agg(min(struct(col(idCol).as("__fid"), col("__idx").as("__fidx"))).as("__first"))
    sent
      .join(firsts, "__s")
      .withColumn("__keep",
        col("__first.__fid") === col(idCol) && col("__first.__fidx") === col("__idx"))
      .groupBy(col(idCol))
      .agg(
        sum(when(col("__keep"), 1L).otherwise(0L)).as("kept_sentences"),
        sum(when(col("__keep"), 0L).otherwise(1L)).as("dropped_sentences"),
        array_join(
          transform(
            array_sort(collect_list(when(col("__keep"),
              struct(col("__idx"), col("__s"))))),
            x => x.getField("__s")),
          ". ").as("text_dedup"))
  }

  /**
   * C38: deterministic per-key row cap (Common-Crawl-style host-level
   * balancing: at most `maxPerKey` documents per domain). Survivors
   * are chosen by a stable content-hash order (md5 over the id), so
   * re-runs and backfills keep the same rows — no RNG state. Two-phase
   * top-N so a hot key (one domain holding 30% of the corpus) never
   * single-task sorts: phase 1 ranks within (key, salt) where
   * salt = xxhash64(id) % salts and keeps ≤ maxPerKey per salt; phase
   * 2 ranks the ≤ salts·maxPerKey survivors per key. Salt-count
   * independent: any row in the key-global top-N is also in its own
   * salt's top-N (its salt holds a subset of the rows that beat it),
   * so phase 1 never drops a final survivor. Output: input columns +
   * `cap_rank` (1-based within key).
   */
  def capPerKey(
      df: DataFrame,
      keyCol: String,
      idCol: String,
      maxPerKey: Int,
      salts: Int = 64): DataFrame = {
    require(maxPerKey > 0 && salts > 0, "maxPerKey and salts must be positive")
    val W = org.apache.spark.sql.expressions.Window
    val ord = md5(concat(lit("cap:"), col(idCol).cast(StringType)))
    val w1 = W.partitionBy(col(keyCol), pmod(xxhash64(col(idCol)), lit(salts.toLong)))
      .orderBy(ord, col(idCol))
    val w2 = W.partitionBy(col(keyCol)).orderBy(ord, col(idCol))
    df.withColumn("__r1", row_number().over(w1))
      .filter(col("__r1") <= maxPerKey)
      .drop("__r1")
      .withColumn("cap_rank", row_number().over(w2))
      .filter(col("cap_rank") <= maxPerKey)
  }

  /**
   * Salted two-phase top-N per key under an EXPLICIT total order —
   * [[capPerKey]] generalized from hash-order capping to scored
   * ranking, and the standing fix for the r12/r13 verdict class
   * `row_number() OVER (PARTITION BY key ORDER BY score)` on a
   * corpus- or vocab-sized frame (q_c27 ranked each source's FULL
   * vocabulary in one task per source; q_c49 funneled the label
   * vocabulary through nSeeds tasks). Phase 1 ranks within
   * (key, salt = xxhash64(saltOn) % salts) and keeps ≤ n per salt —
   * the corpus-sized sort fans across |keys|·salts groups — and
   * phase 2 ranks the ≤ salts·n survivors per key. Lossless for any
   * salt count: a row in the key-global top-n beats every same-key
   * row its own salt holds (a subset of the rows it beats globally),
   * so it survives phase 1. `order` must totally order each key's
   * rows (tie-break on a unique column) or ranks are
   * nondeterministic. Output: input columns + `rank` (1-based).
   */
  def topNPerKey(
      df: DataFrame,
      keyCols: Seq[Column],
      saltOn: Column,
      order: Seq[Column],
      n: Int,
      salts: Int = 64): DataFrame = {
    require(n > 0 && salts > 0, "n and salts must be positive")
    val W = org.apache.spark.sql.expressions.Window
    val w1 = W
      .partitionBy(keyCols :+ pmod(xxhash64(saltOn), lit(salts.toLong)): _*)
      .orderBy(order: _*)
    val w2 = W.partitionBy(keyCols: _*).orderBy(order: _*)
    df.withColumn("__r1", row_number().over(w1))
      .filter(col("__r1") <= n)
      .drop("__r1")
      .withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= n)
  }

  /**
   * C39: hashed linear quality classifier (the fastText-shaped scorer
   * used for pretraining-quality gates): each token hashes to a signed
   * integer weight ((first 4 md5 hex digits) % 19 − 9 — a fixed
   * deterministic stand-in for trained weights; a real weight table
   * drops in as a broadcast join on the same explode), the document
   * score is the weight sum over token instances, label = score > 0.
   * Integer-exact and engine-portable, so an oracle replays it
   * bit-for-bit. One explode + one map-side-combining doc-keyed
   * aggregate — the weight is a pure token function, so partial sums
   * combine before the shuffle.
   */
  def scoreLinearHashed(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = docs.select(col(idCol), explode(TF.tokens(col(textCol))).as("__tk"))
    tok
      .withColumn("__w", Md5HexSlice(col("__tk"), 1, 4) % 19 - 9)
      .groupBy(col(idCol))
      .agg(sum(col("__w")).as("lin_score"), count(lit(1)).as("n_tokens"))
      .withColumn("lin_label", (col("lin_score") > 0).cast(IntegerType))
  }

  /**
   * C56: corpus snapshot diff — the QA step between two ingest runs
   * (yesterday's crawl vs today's): per document id, whether it was
   * added, removed, changed (same id, different content fingerprint),
   * or unchanged. ONE fingerprint-projected full-outer join,
   * id-co-partitioned — content strings never shuffle, only (id,
   * 32-byte md5); at 100 TB this is the cheapest possible two-corpus
   * reconciliation (and the input to incremental re-processing: only
   * `added`/`changed` rows re-enter the pipeline).
   */
  def snapshotDiff(
      oldDocs: DataFrame,
      newDocs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val o = oldDocs.select(col(idCol).as("__id"),
      TF.fingerprintMd5(col(textCol)).as("__fo"))
    val n = newDocs.select(col(idCol).as("__id"),
      TF.fingerprintMd5(col(textCol)).as("__fn"))
    o.join(n, Seq("__id"), "full_outer")
      .select(col("__id").as(idCol),
        when(col("__fo").isNull, "added")
          .when(col("__fn").isNull, "removed")
          .when(col("__fo") === col("__fn"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /**
   * C53: content-defined-chunk dedup stats — the shift-robust rung of
   * the dedup ladder: [[graft.functions.CdcChunks]] cuts each token
   * stream where local content hashes hit `% modulus == 0`, so a
   * document that re-appears with an inserted prefix/boilerplate
   * header still shares every chunk after the first re-aligned
   * boundary (fixed blocks and whole-doc fingerprints share nothing).
   * Per document: chunk count, chunks whose content occurs more than
   * once in the corpus, and the duplicated token mass.
   *
   * Plan shape (the [[gramNovelty]] template): chunking is one
   * map-only codegen pass; corpus chunk counts are one map-side-
   * combining aggregate; the join back is chunk-co-partitioned (AQE
   * splits a hot boilerplate chunk); the finish is one doc-keyed
   * combining aggregate.
   */
  def cdcDedupStats(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      window: Int = 4,
      modulus: Int = 8): DataFrame = {
    val chunks = docs.select(
      col(idCol),
      explode(graft.functions.CdcChunks(TF.tokens(col(textCol)), window, modulus))
        .as("__chunk"))
      .withColumn("__ctoks", size(split(col("__chunk"), " ", -1)).cast(LongType))
      .withColumn("__k", xxhash64(col("__chunk")))
      .select(col(idCol), col("__k"), col("__ctoks"))
    val counts = chunks.groupBy("__k").agg(count(lit(1)).as("__c"))
    chunks.join(counts, "__k")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("__c") > 1, 1L).otherwise(0L)).as("dup_chunks"),
        sum(when(col("__c") > 1, col("__ctoks")).otherwise(0L)).as("dup_tokens"))
  }

  /**
   * C40: inverted-index construction (the batch build behind BM25 /
   * keyword search over the corpus): term → document frequency, total
   * term frequency, and an md5 digest of the doc-ordered posting list
   * ("docId:tf docId:tf …"). One explode + map-side-combining
   * aggregations ((term, doc) → tf, then term → stats/postings). The
   * only wide state is one term's posting list, and it is BOUNDED
   * BEFORE it is built: terms with df > `dfCap` keep their exact
   * df/total_tf but get a NULL digest — a corpus-scale stopword's
   * billion-doc posting list would otherwise accrete in a single
   * aggregation group (production indexes store those as bitmaps, not
   * lists). The tf table feeds the stats pass and the digest pass, so
   * it is persisted+pinned ([[sourceDivergence]] pattern); both joins
   * are term-co-partitioned. The cached tf table outlives this call
   * (the returned DataFrame references it) — loop callers should wrap
   * the call in [[Scoped.withCached]] or `spark.catalog.clearCache()`
   * between corpora.
   */
  def invertedIndex(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      dfCap: Long = 1000000L): DataFrame = {
    val tf = docs.select(col(idCol), explode(TF.tokens(col(textCol))).as("term"))
      .groupBy(col("term"), col(idCol)).agg(count(lit(1)).as("tf"))
      .transform(Scoped.pinned)
    val stats = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("total_tf"))
    // Digest: one codegen'd PostingsMd5 call per term (sort + format +
    // md5 in a single static invoke) when the id is integral — the HOF
    // chain (array_sort → transform → array_join → md5) runs the
    // transform lambda interpreted per posting, and the digest aggregate
    // is this build's only non-map-side work. Non-integral ids keep the
    // HOF formulation (identical output where both apply: integral ids
    // render the same string through either path).
    val integralId = docs.schema(idCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    val digestCol =
      if (integralId)
        graft.functions.PostingsMd5(collect_list(
          struct(col(idCol).cast(LongType).as("id"), col("tf"))))
      else
        md5(array_join(
          transform(
            array_sort(collect_list(struct(col(idCol), col("tf")))),
            x => concat(x.getField(idCol).cast(StringType), lit(":"),
              x.getField("tf").cast(StringType))),
          " "))
    val digests = tf
      .join(stats.filter(col("df") <= dfCap).select("term"), "term")
      .groupBy(col("term"))
      .agg(digestCol.as("postings_md5"))
    stats.join(digests, Seq("term"), "left")
  }

  /**
   * C42: bigram-LM surprisal — [[lmSurprisal]]'s unigram model upgraded
   * one order (the CCNet direction: higher-order LMs separate fluent
   * text from shuffled-token gibberish that unigram stats score
   * identically). Per-bigram surprisal is the integer-exact inverse
   * conditional probability
   *
   *   surprisal(w1 w2) = c(w1 ·) div c(w1 w2)
   *
   * where c(w1 ·) is the bigram-context marginal — derived from the
   * bigram count table itself (one `substring_index` + combining
   * aggregate), NEVER a second corpus pass. A document's score is the
   * sum/mean over its bigram instances; docs with < 2 tokens have no
   * bigrams and produce no row. Plan shape: bigrams come from the
   * codegen'd WordShingles expression (map-only); the count table is
   * one combining aggregate, persisted+pinned ([[sourceDivergence]]
   * pattern) because the context marginal and the instance join both
   * consume it; per-bigram surprisal is a small-table join, and the
   * instance stream joins it on the bigram key, then one doc-keyed
   * combining aggregate.
   * Output: idCol, n_bigrams, surprisal_sum, rarity (= sum div n).
   * The cached count table outlives this call — wrap in
   * [[Scoped.withCached]] or clearCache() between corpora.
   */
  def lmBigramSurprisal(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // WordShingles emits one whole-doc shingle when tokens < n (the
    // q_c22 contract); a 1-token doc has no bigram, so gate first
    val inst = docs
      .filter(size(TF.tokens(col(textCol))) >= 2)
      .select(col(idCol), explode(TF.shingles(col(textCol), 2)).as("bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .select(col(idCol), xxhash64(col("bg")).as("bg"), xxhash64(col("w1")).as("w1"))
    val bc = inst.groupBy("bg").agg(first(col("w1")).as("w1"), count(lit(1)).as("cb"))
      .transform(Scoped.pinned)
    val ctx = bc.groupBy("w1").agg(sum(col("cb")).as("cw"))
    val sur = bc.join(ctx, "w1").select(col("bg"), expr("cw div cb").as("sur"))
    inst.select(col(idCol), col("bg"))
      .join(sur, "bg")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("sur")).as("surprisal_sum"))
      .withColumn("rarity", expr("surprisal_sum div n_bigrams"))
  }

  /**
   * C84: Stupid-Backoff trigram LM scoring — the CCNet quality-filter
   * shape (Wenzek et al. 2020 score every crawl document against an LM
   * trained on a REFERENCE slice and bucket by perplexity; Brants et
   * al. 2007 Stupid Backoff is the count-ratio score that needs no
   * discounting and therefore distributes as pure aggregates). Unlike
   * [[lmBigramSurprisal]] (self-trained, every gram is a hit), the LM
   * here is built ONLY from `trainFilter` rows, so held-out documents
   * genuinely back off: trigram hit → continuation bigram (×0.4) →
   * unigram (×0.4²) → OOV.
   *
   * All arithmetic is integer-exact inverse probability (the q_c42
   * device), so Spark and the DuckDB oracle agree bit-for-bit:
   * level 1  sur = c2(ctx)      div c3(tri)            (1 / (c3/c2))
   * level 2  sur = c1(w2)·5     div (cb(w2w3)·2)       (1 / (0.4·cb/c1))
   * level 3  sur = N·25         div (cu(w3)·4)         (1 / (0.16·cu/N))
   * level 4  sur = N·25         div 4                  (OOV ≡ count 1)
   * where every LM count is defined off the train TRIGRAM stream (a
   * trigram instance contributes its context bigram, its final bigram
   * and its final unigram — the marginals then sum exactly).
   *
   * Scale shape: the per-(doc, trigram) count table `dtf` is
   * [[gramTable]] at n = 3 (the instance table every KN order reads
   * too), persisted and pinned because the three LM marginals AND the
   * scoring join all consume it. LM tables are gram-vocabulary-
   * bounded; the scoring pass is three LEFT joins on 8-byte hashed
   * keys plus one broadcast one-row total, then a doc-keyed combining
   * aggregate. No driver state, no global sort. Output per doc:
   * n_trigrams, level counts (n_hit/n_bo/n_uni/n_oov), surprisal_sum,
   * rarity (= sum div n).
   * The cached dtf outlives this call — clearCache() between corpora.
   */
  def stupidBackoffSurprisal(
      docs: DataFrame,
      trainFilter: Column,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val dtf = gramTable(docs, trainFilter, 3, idCol, textCol)
      .select(col(idCol), col("__train"), col("cnt"), col("g").as("tri"),
        col("ctop").as("ctx2"), col("s2").as("bo"), col("c2").as("w2"),
        col("s1").as("w3"))
    val train = dtf.filter(col("__train"))
    // LM tables, all off the train trigram stream; marginals sum exactly
    val t3 = train.groupBy("tri")
      .agg(first(col("ctx2")).as("ctx2"), sum(col("cnt")).as("c3"))
    val tctx = t3.groupBy("ctx2").agg(sum(col("c3")).as("c2"))
    val sur1 = t3.join(tctx, "ctx2").select(col("tri"), expr("c2 div c3").as("sur1"))
    val tb = train.groupBy("bo")
      .agg(first(col("w2")).as("w2"), sum(col("cnt")).as("cb"))
    val tw = tb.groupBy("w2").agg(sum(col("cb")).as("c1"))
    val sur2 = tb.join(tw, "w2")
      .select(col("bo"), expr("(c1 * 5) div (cb * 2)").as("sur2"))
    val tu = train.groupBy("w3").agg(sum(col("cnt")).as("cu"))
    // empty train slice degrades to all-OOV with sur 0 (defined, not null)
    val tot = tu.agg(coalesce(sum(col("cu")), lit(0L)).as("bigN"))
    val sur3 = tu.crossJoin(broadcast(tot))
      .select(col("w3"), expr("(bigN * 25) div (cu * 4)").as("sur3"))
    dtf.select(col(idCol), col("tri"), col("bo"), col("w3"), col("cnt"))
      .join(sur1, Seq("tri"), "left")
      .join(sur2, Seq("bo"), "left")
      .join(sur3, Seq("w3"), "left")
      .crossJoin(broadcast(tot))
      .select(col(idCol), col("cnt"),
        when(col("sur1").isNotNull, 1).when(col("sur2").isNotNull, 2)
          .when(col("sur3").isNotNull, 3).otherwise(4).as("lvl"),
        coalesce(col("sur1"), col("sur2"), col("sur3"),
          expr("(bigN * 25) div 4")).as("sur"))
      .groupBy(col(idCol))
      .agg(
        sum(col("cnt")).as("n_trigrams"),
        sum(when(col("lvl") === 1, col("cnt")).otherwise(0L)).as("n_hit"),
        sum(when(col("lvl") === 2, col("cnt")).otherwise(0L)).as("n_bo"),
        sum(when(col("lvl") === 3, col("cnt")).otherwise(0L)).as("n_uni"),
        sum(when(col("lvl") === 4, col("cnt")).otherwise(0L)).as("n_oov"),
        sum(col("sur") * col("cnt")).as("surprisal_sum"))
      .withColumn("rarity", expr("surprisal_sum div n_trigrams"))
  }

  /**
   * The per-(doc, n-gram) instance table every n-gram LM here reads
   * ([[stupidBackoffSurprisal]] at n = 3, [[kneserNeyNgramSurprisal]]
   * at every order): one row per (doc, distinct n-gram) carrying the
   * doc's `__train` flag, the instance count `cnt` and 8-byte xxhash64
   * keys — `g` (the gram), `ctop` (its (n−1)-token prefix), `s{m}` for
   * m = n−1..1 (its m-token suffix) and `c{m}` for m = n−1..2 (the
   * (m−1)-token prefix of s{m}, the order-m context). Docs shorter
   * than n tokens are gated out first: WordShingles emits one whole-
   * doc shingle when tokens < n (the q_c22 contract).
   *
   * ONE combining aggregate on the SLIMMEST instance rows keys the
   * dominant shuffle of every LM: the exchange is keyed by the gram's
   * xxhash64 and the gram string rides once as a combined first(); the
   * suffix/context keys derive AFTER aggregation, over ≤ instance-count
   * rows — deriving them per instance doubled the instance bytes for
   * nothing (measured at the ×100 tier). The table is persisted and
   * pinned because the LM marginals AND the scoring join all consume
   * it (the df⋈agg(df) rule) — without the pin each consumer re-runs
   * the explode. The cached table outlives the caller: clearCache()
   * between corpora, or scope the call with [[Scoped.withCached]].
   */
  private def gramTable(
      docs: DataFrame,
      trainFilter: Column,
      n: Int,
      idCol: String,
      textCol: String): DataFrame = {
    val inst = docs
      .filter(size(TF.tokens(col(textCol))) >= n)
      .select(col(idCol), trainFilter.as("__train"),
        explode(TF.shingles(col(textCol), n)).as("g0"))
    val base = inst.groupBy(col(idCol), xxhash64(col("g0")).as("__gk"))
      .agg(first(col("g0")).as("g0"),
        first(col("__train")).as("__train"), count(lit(1)).as("cnt"))
    def suffix(k: Int): Column = substring_index(col("g0"), " ", -k)
    def ctxOf(m: Int): Column = substring_index(suffix(m), " ", m - 1)
    val keyCols: Seq[(String, Column)] =
      Seq("g" -> col("g0"), "ctop" -> substring_index(col("g0"), " ", n - 1)) ++
        ((n - 1) to 1 by -1).map(m => s"s$m" -> suffix(m)) ++
        ((n - 1) to 2 by -1).map(m => s"c$m" -> ctxOf(m))
    val dtf = base.select(col(idCol) +: col("__train") +: col("cnt") +:
        keyCols.map { case (nm, c) => xxhash64(c).as(nm) }: _*)
      .transform(Scoped.pinned)
    dtf
  }

  /**
   * C101/C110/C115: interpolated Kneser–Ney scoring at any order n ≥ 2
   * — the smoothing the n-gram LM literature actually ships (Stupid
   * Backoff trades it away for distributability; KN's absolute
   * discount plus continuation probability is what CCNet-class
   * perplexity filters are built on). q_c101 runs order 2, q_c110
   * order 3 and q_c115 order 5, the Wenzek 2020 CCNet reference
   * configuration. Chen–Goodman interpolated KN with discount D = 3/4
   * at every level; the top order uses raw counts, every lower order
   * CONTINUATION counts (distinct left extensions), not raw counts:
   *
   *   n = 2:  p(w2|w1)   = max(c12−D,0)/c1 + D·N1+(w1,·)/c1 · N1+(·,w2)/T
   *   n = 3:  p(w3|w1w2) = max(c123−D,0)/c12 + D·N1+(w1w2,·)/c12 · p(w3|w2)
   *           p(w3|w2)   = max(nbi−D,0)/nmid + D·N1+(w2,·)/nmid · p(w3)
   *           p(w3)      = N1+(·,w3)/T
   *
   * where nbi = N1+(·,w2w3), nmid = Σ_w3 nbi and T = distinct bigram
   * types. Higher orders recurse the same way through the suffix-type
   * chain t_n → t_{n−1} → … → t_1: t_n is the train n-gram type
   * table, t_m the distinct m-token suffixes of t_{m+1}'s keys,
   * counted (N1+(·s)), so t_m gives order m its continuation counts
   * and T = |t_2| (the train bigram types themselves at n = 2).
   *
   * Every quantity is integer ppm, so the probabilities hash-match the
   * DuckDB replay. p is n separately-rounded terms (a common
   * denominator would overflow Long at corpus scale): the top term
   * (4·c−3)⁺·250000 div cden; per continuation order m, the term
   * W·(4·n_m−3)⁺ div (4·d_m) with the carried backoff weight
   * W ← (W·3·f_m) div (4·d_m), starting at W = (3·N1+(ctx,·)·250000)
   * div cden; and a final unigram-continuation term W·n1 div T. At
   * n = 2 that is
   *
   *   (4·c12−3)⁺·250000 div c1 + ((3·n1fw·250000) div c1)·n1bw div T
   *
   * and at n = 3
   *
   *   term1 = (4·c123−3)⁺·250000 div c12
   *   term2 = ((3·n1fw12·250000) div c12) · (4·nbi−3)⁺ div (4·nmid)
   *   term3 = ((((3·n1fw12·250000) div c12)·(3·n1fw2)) div (4·nmid))
   *             · n1bw div T
   *
   * A seen context at order m implies a seen context at every order
   * below (suffix closure), so each when-arm's ladder is division-
   * safe. Overflow contract: every intermediate is
   * ≤ 10⁶·3·max(vocab, corpus) < 2⁶³.
   *
   * Backoff levels: 1 = n-gram hit, 2 = seen top context (discounted
   * continuation), 2+k = longest seen context is order n−k (the ladder
   * starts there at weight 10⁶), n+1 = unigram continuation only
   * (p = n1·10⁶ div T), n+2 = OOV (p = 0). One rule depends on the
   * order: at n = 2 the level-2 arm also requires a seen final token,
   * so a seen context followed by an OOV token is level 4 (the C101
   * contract), while at n ≥ 3 it stays level 2 (the C110/C115
   * contract); p is 0 under both. Empty train degrades to all-OOV
   * p = 0.
   *
   * Plan shape: the instance table is [[gramTable]] (shared with
   * [[stupidBackoffSurprisal]]); t_n and every link t_m with m ≥ 2
   * persist once (each feeds its context marginal, the next link and
   * the scoring join); scoring is 2n−1 LEFT equi-joins on
   * vocab-bounded LM tables plus one broadcast total. Output per doc:
   * n_ngrams, the level counts n_hit, n_cont, n_bo{m} for
   * m = n−1..2 (ladder started at continuation order m), n_unig and
   * n_oov, then p_sum_ppm and mean_p_ppm (= p_sum_ppm div n_ngrams).
   * Docs shorter than n tokens produce no row.
   */
  def kneserNeyNgramSurprisal(
      docs: DataFrame,
      trainFilter: Column,
      order: Int,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(order >= 2, "order must be >= 2")
    val n = order
    val dtf = gramTable(docs, trainFilter, n, idCol, textCol)
    val keys = dtf.columns.toSeq.filterNot(Set(idCol, "__train", "cnt"))
    val train = dtf.filter(col("__train"))
    // n-gram TYPE table, carrying every downstream key once
    val tt = train.groupBy("g")
      .agg(sum(col("cnt")).as("cn"),
        keys.filterNot(_ == "g").map(nm => first(col(nm)).as(nm)): _*)
      .transform(Scoped.pinned)
    val tctxTop = tt.groupBy("ctop")
      .agg(sum(col("cn")).as("cden"), count(lit(1)).as("cn1"))
    // suffix-type chain from its top link t_n = tt: t_m keyed s_m with
    // continuation count n_m, carrying c_m (its marginal key) and the
    // tail keys it passes down
    val tTables = scala.collection.mutable.Map[Int, DataFrame](n -> tt)
    val ctxTables = scala.collection.mutable.Map.empty[Int, DataFrame]
    for (m <- (n - 1) to 1 by -1) {
      val tail = ((m to 2 by -1).map(i => s"c$i") ++
        ((m - 1) to 1 by -1).map(i => s"s$i"))
      val t0 = tTables(m + 1).groupBy(s"s$m")
        .agg(count(lit(1)).as(s"n$m"), tail.map(nm => first(col(nm)).as(nm)): _*)
      tTables(m) = if (m >= 2) {
        // feeds its marginal, the next link, and scoring
        val tp = t0.transform(Scoped.pinned)
        ctxTables(m) = tp.groupBy(s"c$m")
          .agg(sum(col(s"n$m")).as(s"d$m"), count(lit(1)).as(s"f$m"))
        tp
      } else t0
    }
    val tot = tTables(2).agg(count(lit(1)).as("bigT"))
    var scored = dtf
      .select(col(idCol) +: col("cnt") +: keys.map(col): _*)
      .join(tt.select(col("g"), col("cn")), Seq("g"), "left")
      .join(tctxTop, Seq("ctop"), "left")
    for (m <- (n - 1) to 2 by -1) {
      scored = scored
        .join(tTables(m).select(col(s"s$m"), col(s"n$m")), Seq(s"s$m"), "left")
        .join(ctxTables(m), Seq(s"c$m"), "left")
    }
    scored = scored
      .join(tTables(1).select(col("s1"), col("n1")), Seq("s1"), "left")
      .crossJoin(broadcast(tot))
    // the continuation chain from weight `w0` (ppm) through orders
    // mFrom..2, ending in the unigram-continuation term
    def chainFrom(w0: String, mFrom: Int): String = {
      var w = w0
      val terms = scala.collection.mutable.Buffer.empty[String]
      for (m <- mFrom to 2 by -1) {
        terms +=
          s"($w) * greatest(4 * coalesce(n$m, 0L) - 3, 0L) div (4 * d$m)"
        w = s"(($w) * (3 * f$m)) div (4 * d$m)"
      }
      terms += s"($w) * coalesce(n1, 0L) div greatest(bigT, 1L)"
      terms.mkString(" + ")
    }
    val fullLadder =
      s"(greatest(4 * coalesce(cn, 0L) - 3, 0L) * 250000) div cden + " +
        chainFrom("(3 * cn1 * 250000) div cden", n - 1)
    def startLadder(m0: Int): String =
      s"(greatest(4 * coalesce(n$m0, 0L) - 3, 0L) * 250000) div d$m0 + " +
        chainFrom(s"(3 * f$m0 * 250000) div d$m0", m0 - 1)
    // the one order-dependent rule: at n = 2 a seen context before an
    // OOV token is OOV (C101), at n >= 3 it stays n_cont (C110/C115)
    val seenTop =
      if (n == 2) col("cden").isNotNull && col("n1").isNotNull else col("cden").isNotNull
    val lvl = ((n - 1) to 2 by -1)
      .foldLeft(when(col("cn").isNotNull, 1).when(seenTop, 2)) {
        (acc, m) => acc.when(col(s"d$m").isNotNull, 2 + (n - m))
      }
      .when(col("n1").isNotNull, n + 1)
      .otherwise(n + 2)
    val p = ((n - 1) to 2 by -1)
      .foldLeft(when(col("cden").isNotNull, expr(fullLadder))) { (acc, m) =>
        acc.when(col(s"d$m").isNotNull, expr(startLadder(m)))
      }
      .otherwise(expr("coalesce(n1, 0L) * 1000000 div greatest(bigT, 1L)"))
    val boCols = ((n - 1) to 2 by -1).map(m =>
      sum(when(col("lvl") === 2 + (n - m), col("cnt")).otherwise(0L))
        .as(s"n_bo$m"))
    scored.select(col(idCol), col("cnt"), lvl.as("lvl"), p.as("p_ppm"))
      .groupBy(col(idCol))
      .agg(sum(col("cnt")).as("n_ngrams"),
        Seq(
          sum(when(col("lvl") === 1, col("cnt")).otherwise(0L)).as("n_hit"),
          sum(when(col("lvl") === 2, col("cnt")).otherwise(0L)).as("n_cont")) ++
          boCols ++ Seq(
          sum(when(col("lvl") === n + 1, col("cnt")).otherwise(0L)).as("n_unig"),
          sum(when(col("lvl") === n + 2, col("cnt")).otherwise(0L)).as("n_oov"),
          sum(col("p_ppm") * col("cnt")).as("p_sum_ppm")): _*)
      .withColumn("mean_p_ppm", expr("p_sum_ppm div n_ngrams"))
  }

  /**
   * C106: CCNet-style perplexity tercile filter — the pipeline CCNet
   * actually ships: score every document with the reference LM, rank
   * WITHIN each source, and keep the head/middle terciles (tail =
   * highest-perplexity third, the boilerplate/garbled slice). Here the
   * LM is the interpolated Kneser–Ney bigram model
   * ([[kneserNeyNgramSurprisal]] at order 2 — higher mean probability =
   * head) and the per-source ranks come
   * from [[GroupedScan.prefixScan]], so the corpus-sized rank stage
   * parallelizes by PARTITION, not by |sources| (the C94/C97–C99
   * lesson: a per-source rank window runs ≤ |sources| tasks at
   * 100 TB). Docs with no bigram (single-token/empty) carry p = −1 and
   * sink to the tail deterministically. Exact integer terciles:
   * bucket = (rank−1)·3 div groupCount — sizes differ by ≤ 1.
   */
  def perplexityTercileFilter(
      docs: DataFrame,
      trainFilter: Column,
      idCol: String = "doc_id",
      sourceCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val scored = kneserNeyNgramSurprisal(docs, trainFilter, 2, idCol, textCol)
      .select(col(idCol), col("mean_p_ppm"))
    val base = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol), col(sourceCol).cast(StringType).as("__src"),
        TF.tokenCount(col(textCol)).cast(LongType).as("__t"))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol), col("__src"), col("__t"),
        coalesce(col("mean_p_ppm"), lit(-1L)).as("__p"))
      .withColumn("__ord", -col("__p"))
    val ranked = GroupedScan.prefixScan(
      base, Seq("__src"), Seq("__ord", idCol), "__t")
    ranked
      .withColumn("bucket", expr("((__rnk - 1) * 3) div __gn"))
      .groupBy(col("__src").as(sourceCol), col("bucket"))
      .agg(
        count(lit(1)).as("docs"),
        sum("__t").as("tokens"),
        max("__p").as("max_p_ppm"),
        min("__p").as("min_p_ppm"))
      .withColumn("admitted", (col("bucket") < 2).cast(LongType))
      .orderBy(sourceCol, "bucket")
  }

  /**
   * C43: duplicated-span detection (the distributed tractable slice of
   * Lee et al. 2021 exact-substring dedup: a suffix array finds
   * arbitrary-length repeats; corpus-duplicated n-gram positions
   * merged into maximal runs find every repeat ≥ n tokens, which is
   * what the scrub acts on). Per document: how many corpus-duplicated
   * n-gram positions it has, how many MAXIMAL consecutive spans they
   * merge into, and the longest span in tokens (run length + n − 1).
   * Plan shape: positioned grams from the codegen'd WordShingles pass;
   * gram counts are one combining aggregate and the join back is
   * gram-co-partitioned (the [[dupGramStats]] shape — AQE skew-join
   * splits a boilerplate gram's hot partition); span merging is a
   * doc-keyed lag/cumsum window, so per-key state is one document's
   * duplicated positions. Docs shorter than n tokens have no n-gram
   * and produce no row, as do docs with no duplicated grams —
   * left-join the result onto the corpus when every doc needs a row.
   */
  def duplicatedSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val grams = docs
      .filter(size(TF.tokens(col(textCol))) >= n)
      .select(col(idCol), posexplode(TF.shingles(col(textCol), n)).as(Seq("pos", "g")))
      .select(col(idCol), col("pos"), xxhash64(col("g")).as("g"))
    val gc = grams.groupBy("g").agg(count(lit(1)).as("c"))
    val dup = grams.join(gc, "g").filter(col("c") > 1).select(col(idCol), col("pos"))
    val wDoc = W.partitionBy(col(idCol)).orderBy(col("pos"))
    val spans = dup
      .withColumn("__new",
        when(col("pos") - lag(col("pos"), 1).over(wDoc) === 1, 0).otherwise(1))
      .withColumn("__span", sum(col("__new")).over(wDoc))
      .groupBy(col(idCol), col("__span"))
      .agg(count(lit(1)).as("__glen"))
    spans.groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(col("__glen")).as("dup_grams"),
        (max(col("__glen")) + (n - 1)).as("max_span_tokens"))
  }

  /**
   * C114: exact-substring dedup WITH REMOVAL — the Lee et al. 2022
   * ExactSubstr rung ("Deduplicating Training Data Makes Language
   * Models Better"): every corpus-duplicated run of ≥ n tokens is
   * dropped from every occurrence EXCEPT one canonical copy, and the
   * scrubbed text is emitted (where [[duplicatedSpans]] only REPORTS
   * the spans, this rewrites the corpus). Duplication grain is the
   * corpus-duplicated n-gram: a shared run of length L ≥ n yields
   * L−n+1 duplicated gram positions per occurrence whose
   * [pos, pos+n−1] covers union to the full run, so the scrub acts on
   * arbitrary-length repeats exactly as the suffix-array original.
   * The canonical occurrence of each gram is the lexicographic-min
   * (doc id, position) over its occurrences — so the lowest-id
   * document keeps a shared run intact (every gram of the run is
   * owned there), later documents lose it wholesale, and intra-doc
   * repeats keep only their first occurrence. Output text is the
   * single-space rejoin of surviving tokens (the corpus-line-dedup
   * whitespace normalization contract); kept/removed token counts and
   * the merged-span count ride along per document.
   *
   * Plan shape: positioned grams from the codegen WordShingles pass →
   * ONE map-side-combining per-gram aggregate carrying (count, argmin
   * owner) — the owner rides the SAME aggregate as a packed long
   * (id·2³² + pos, the semDedupHierarchical packing device), so
   * ownership costs no second shuffle and the aggregate stays a
   * codegen HashAggregate. The join back is gram-co-partitioned (AQE
   * skew-splits boilerplate grams; 8-byte xxhash64 keys); per-doc
   * scrub starts collapse to one sorted int array on an id-keyed
   * aggregate (bounded by the doc's own token count); the removal itself is the [[graft.functions.ScrubSpans]]
   * codegen kernel — two pointers, O(tokens + starts) per row, no
   * per-position explode. Packing contract: ids and positions < 2³¹.
   * Docs shorter than n tokens produce no gram and pass through
   * unscrubbed (WordShingles' whole-doc shingle for short docs is
   * deliberately gated out — true n-gram semantics, the
   * lmBigramSurprisal rule).
   *
   * @param carryCols pass-through columns (e.g. source) kept on the
   *                  output without a second corpus join.
   * @return (idCol, carryCols…, kept_text, kept_tokens,
   *         removed_tokens, n_spans)
   */
  def exactSubstrScrub(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      carryCols: Seq[String] = Nil): DataFrame = {
    import graft.functions.{ScrubSpans, WordShingles}
    require(n > 0, "gram length must be positive")
    val base = docs
      .select(col(idCol) +: (carryCols.map(col) :+
        TF.tokens(col(textCol)).as("__t")): _*)
      .transform(Scoped.persistTracked)
    // pin action (the gram pass and the final scrub join both read the
    // cache) doubling as the packing-contract guard: ids outside
    // [0, 2³¹) would silently corrupt the argmin owner packing
    // (id·2³² + pos) — fail loudly instead (r15 advice)
    val idRange = base.agg(count(lit(1)),
      min(col(idCol).cast(LongType)), max(col(idCol).cast(LongType))).head()
    if (idRange.getLong(0) > 0L) {
      require(idRange.getLong(1) >= 0L && idRange.getLong(2) < (1L << 31),
        s"exactSubstrScrub packs owners as id*2^32+pos and needs " +
          s"0 <= $idCol < 2^31; got [${idRange.getLong(1)}, ${idRange.getLong(2)}]")
    }
    val grams = base
      .filter(size(col("__t")) >= n)
      .select(col(idCol),
        posexplode(WordShingles(col("__t"), n)).as(Seq("pos", "g")))
      .withColumn("g", xxhash64(col("g")))
    val packed = col(idCol).cast(LongType) * (1L << 32) + col("pos")
    val gstats = grams.groupBy("g")
      .agg(count(lit(1)).as("__c"), min(packed).as("__own"))
    val scrubStarts = grams
      .join(gstats, Seq("g"))
      .filter(col("__c") > 1 && packed =!= col("__own"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("pos"))).as("__starts"))
    base.join(scrubStarts, Seq(idCol), "left")
      .withColumn("__s", ScrubSpans(col("__t"),
        coalesce(col("__starts"), lit(Array.empty[Int])), n))
      .select((col(idCol) +: carryCols.map(col)) ++ Seq(
        col("__s.kept_text").as("kept_text"),
        col("__s.kept_tokens").as("kept_tokens"),
        col("__s.removed_tokens").as("removed_tokens"),
        col("__s.n_spans").as("n_spans")): _*)
  }

  /**
   * C69: winnowing fingerprints + overlap pairs — the MOSS local
   * fingerprinting scheme (Schleimer, Wilkerson & Aiken 2003,
   * "Winnowing: Local Algorithms for Document Fingerprinting"):
   * instead of keeping EVERY k-gram hash ([[dedupAcrossDocs]]) or one
   * global min per slot ([[sourceMinhash]]), keep the minimum hash of
   * every window of `w` consecutive k-gram hashes. The guarantee that
   * makes it the right sketch for PARTIAL overlap: any shared run of
   * ≥ w+k−1 tokens contributes at least one shared fingerprint, while
   * the stored set is ~1/w of the grams — position-robust containment
   * detection at a fraction of the footprint.
   *
   * Determinism/parity: hashes are the 52-bit md5 prefix (the
   * [[sourceMinhash]] hash both engines replay); the per-position
   * minimum is a window over one row's grams (`[pos, pos+w−1]`, full
   * windows only), and the fingerprint SET is the distinct minima
   * values — value-set semantics sidestep the rightmost-tie rule of
   * the paper, which no SQL window can express portably and which only
   * matters for positional attribution. Rows sharing an id are one
   * document: its set is the union of its rows' fingerprints.
   *
   * Scale shape: the window pass is row-partitioned (state = w
   * hashes); the fingerprints go through [[Dedup.sharedKeyPairs]],
   * which merges them per doc, sizes each set and drops fingerprints
   * shared by more than `maxDocsPerFp` docs before pairing (the
   * [[invertedIndex]] dfCap rule: boilerplate fingerprints otherwise
   * make the pair step quadratic in the hottest key); output is the
   * deterministic top-`topPairs` by (shared DESC, ids).
   */
  def winnowFingerprints(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 4,
      w: Int = 4,
      maxDocsPerFp: Int = 16,
      minShared: Int = 2,
      topPairs: Int = 50): DataFrame = {
    require(k > 0 && w > 0 && maxDocsPerFp > 1 && topPairs > 0)
    val W = org.apache.spark.sql.expressions.Window
    val grams = docs
      .filter(size(TF.tokens(col(textCol))) >= k + w - 1)
      .select(col(idCol).as("__id"), xxhash64(col(textCol)).as("__t"),
        posexplode(TF.shingles(col(textCol), k)).as(Seq("pos", "g")))
      .select(col("__id"), col("__t"), col("pos"),
        Md5HexSlice.md552(col("g")).as("h"))
    // a RANGE frame over one row's positions: a repeated (id, text)
    // row doubles each position without widening the window
    val frame = W.partitionBy("__id", "__t").orderBy("pos")
      .rangeBetween(W.currentRow, w - 1)
    val fps = grams
      .withColumn("__mn", min(col("h")).over(frame))
      .withColumn("__last", max(col("pos")).over(frame))
      .filter(col("__last") === col("pos") + (w - 1))
      .select(col("__id"), col("__mn").as("fp"))
    Dedup.sharedKeyPairs(fps, "fp", "__id", maxDocsPerFp)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        col("n").as("shared_fps"), col("sz_a").as("fps_a"), col("sz_b").as("fps_b"))
      .filter(col("shared_fps") >= minShared)
      .withColumn("containment_ppm",
        expr("shared_fps * 1000000 div least(fps_a, fps_b)"))
      .select("doc_a", "doc_b", "shared_fps", "fps_a", "fps_b", "containment_ppm")
      .orderBy(col("shared_fps").desc, col("doc_a"), col("doc_b"))
      .limit(topPairs)
  }

  /**
   * C46: per-document keyword extraction — top-k terms by integer
   * tf-idf-shaped score (tf·10⁶ div corpus-df; higher tf and rarer
   * term win, ties break on the term), the doc-tagging step of a
   * training-data pipeline ([[C27|distinctive terms]] is the same
   * ranking per SOURCE; this is per document). One combining (doc,
   * term) tf aggregate, persisted+pinned (feeds the df aggregate and
   * the score join — [[sourceDivergence]] note), term-co-partitioned
   * df join back, then a doc-keyed top-k window (bounded by one doc's
   * vocabulary, never a global sort). The cached tf table outlives
   * this call — wrap in [[Scoped.withCached]] or clearCache() between
   * corpora.
   */
  def docTopTerms(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3): DataFrame = {
    require(k > 0)
    val W = org.apache.spark.sql.expressions.Window
    val tf = docs.select(col(idCol), explode(TF.tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
      .transform(Scoped.pinned)
    val df_ = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(df_, "term")
      .withColumn("score", expr("tf * 1000000 div df"))
      .withColumn("rank", row_number().over(
        W.partitionBy(col(idCol)).orderBy(col("score").desc, col("term"))))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank"), col("term"), col("score"))
  }

  /**
   * C44: per-document n-gram novelty under the deterministic training
   * order (the data-valuation signal: a doc whose grams all first
   * appeared earlier contributes nothing new — the per-doc view of
   * what [[dupGramStats]] aggregates per source and Lee et al. 2021
   * report corpus-wide). A gram instance is NOVEL iff its document is
   * the gram's earliest (min id over the corpus). Same skew-safe shape
   * as [[dedupAcrossDocs]]: per-gram `min(id)` combines map-side (a
   * 100M-copy boilerplate gram reduces to one min, no per-gram sort),
   * the join back is gram-co-partitioned, and the per-doc rollup is
   * one combining aggregate. novelty_pct is integer-exact (·100 div).
   * Docs shorter than n tokens have no grams and produce no row.
   */
  def gramNovelty(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8): DataFrame = {
    val grams = docs
      .filter(size(TF.tokens(col(textCol))) >= n)
      .select(col(idCol), explode(TF.shingles(col(textCol), n)).as("g"))
      .select(col(idCol), xxhash64(col("g")).as("g"))
    val firstDoc = grams.groupBy("g").agg(min(col(idCol)).as("__first"))
    grams.join(firstDoc, "g")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("grams"),
        sum(when(col("__first") === col(idCol), 1L).otherwise(0L)).as("novel_grams"))
      .withColumn("novelty_pct", expr("novel_grams * 100 div grams"))
  }

  /**
   * C41: per-source token-distribution divergence (data-mixture drift
   * QA: which source's unigram distribution strays furthest from the
   * corpus mix). Distance is total variation in parts-per-million,
   * with each probability quantized to ppm first —
   *
   *   tv_ppm(s) = Σ_w | (c_sw·10⁶ div T_s) − (C_w·10⁶ div T) |
   *
   * — integer-exact end to end (no logs, no doubles), so any engine
   * reproduces it bit-for-bit; quantization error is bounded by the
   * vocabulary size (±1 ppm per term). Plan shape: everything derives
   * from one combining (source, token) count aggregate, persisted AND
   * eagerly pinned because it feeds four consumers — two on broadcast
   * threads that would otherwise race a cold cache and recompute the
   * corpus explode 4× (blocks live until the session evicts them, as
   * in `Dedup.semDedup` — loop callers should wrap the call in
   * [[Scoped.withCached]] or `spark.catalog.clearCache()` between
   * corpora). 1M docs × 10 sources: 33 s naive → 23 s persist+pin →
   * 9.8 s hashed keys (local[32]). The vocab × sources grid (linear
   * in vocab — sources are enumerable, so this is the deliberate
   * broadcast cross product) left-joins the per-source counts
   * token-co-partitioned, so absent terms contribute their full corpus
   * mass. Output: source, n_tokens, distinct_terms, tv_ppm.
   */
  def sourceDivergence(
      docs: DataFrame,
      sourceCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val M = 1000000L
    val sw = docs
      .select(col(sourceCol).as("source"), explode(TF.tokens(col(textCol))).as("w"))
      .select(col("source"), xxhash64(col("w")).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
      // four consumers evaluate concurrently inside one action (two on
      // broadcast threads)
      .transform(Scoped.pinned)
    val corpus = sw.groupBy("w").agg(sum(col("c")).as("cw"))
    val totals = sw.groupBy("source").agg(sum(col("c")).as("ts"))
    val tot = sw.agg(sum(col("c")).as("t"))
    corpus
      .crossJoin(broadcast(totals))
      .join(sw, Seq("w", "source"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("p_ppm", expr(s"coalesce(c, 0L) * ${M}L div ts"))
      .withColumn("q_ppm", expr(s"cw * ${M}L div t"))
      .groupBy("source")
      .agg(
        max(col("ts")).as("n_tokens"),
        sum(when(col("c").isNotNull, 1L).otherwise(0L)).as("distinct_terms"),
        sum(abs(col("p_ppm") - col("q_ppm"))).as("tv_ppm"))
  }

  /**
   * C61: pairwise source-overlap matrix — which corpora mirror which
   * (the crawl-forensics view behind mixture design: syndication
   * networks, scraped mirrors, and benchmark bleed all show up as
   * off-diagonal mass). For every source pair (a < b): the number of
   * distinct word `n`-grams both contain, plus the integer Jaccard
   * `shared·1e6 div (|A|+|B|−shared)` over distinct grams. Pairs with
   * zero shared grams are omitted.
   *
   * Scale shape (≤62 sources — the mixture-design regime): per-gram
   * state is ONE long bitmask (`bit_or` of the owning sources' bits,
   * map-side combining), and the whole matrix melts out of a single
   * one-row aggregate with a mask test per pair — one wide shuffle on
   * the hashed gram key, no self-join, no per-gram list. The oracle's
   * formulation IS the self-join (quadratic in posting length); this
   * plan replaces it with popcount arithmetic. >62 or null-labeled
   * sources fall back to the per-gram-capped collect_set pair-explode
   * ([[sourceOverlapGeneral]], `maxSourcesPerGram` — C40-dfCap
   * semantics); the paths return identical rows whenever no gram is
   * owned by more than `maxSourcesPerGram` sources (always true under
   * the ≤62-label bitmask regime at the default cap of 64).
   */
  def sourceOverlap(
      docs: DataFrame,
      n: Int = 3,
      sourceCol: String = "source",
      textCol: String = "text",
      maxSourcesPerGram: Int = 64): DataFrame = {
    val srcRows = docs.select(col(sourceCol).cast(StringType)).distinct()
      .limit(63).collect().map(r => if (r.isNullAt(0)) null else r.getString(0))
    if (srcRows.length > 62 || srcRows.length < 2 || srcRows.contains(null))
      return sourceOverlapGeneral(docs, n, sourceCol, textCol, maxSourcesPerGram)
    val srcList = srcRows.sorted
    val grams = docs.select(
      col(sourceCol).as("source"), explode(TF.shingles(col(textCol), n)).as("gs"))
      .select(col("source"), xxhash64(col("gs")).as("g"))
    val bit = srcList.zipWithIndex.foldLeft(lit(0L)) { case (acc, (s, i)) =>
      when(col("source") === s, lit(1L << i)).otherwise(acc)
    }
    val perGram = grams.select(col("g"), bit.as("b"))
      .groupBy("g").agg(bit_or(col("b")).as("mask"))
    val idx = srcList.indices
    val pairAggs = for { i <- idx; j <- idx if i < j } yield {
      val both = lit((1L << i) | (1L << j))
      sum(when(col("mask").bitwiseAND(both) === both, 1L).otherwise(0L))
        .as(s"p_${i}_$j")
    }
    val dgAggs = idx.map(i =>
      sum(when(col("mask").bitwiseAND(lit(1L << i)) =!= 0L, 1L).otherwise(0L))
        .as(s"dg_$i"))
    val aggs = pairAggs ++ dgAggs
    val one = perGram.agg(aggs.head, aggs.tail: _*)
    val entries = array((for { i <- idx; j <- idx if i < j } yield {
      struct(lit(srcList(i)).as("src_a"), lit(srcList(j)).as("src_b"),
        col(s"p_${i}_$j").as("shared_grams"),
        (col(s"dg_$i") + col(s"dg_$j") - col(s"p_${i}_$j")).as("union_grams"))
    }): _*)
    one.select(explode(entries).as("e")).select(col("e.*"))
      .filter(col("shared_grams") > 0L)
      .withColumn("jaccard_ppm", expr("shared_grams * 1000000 div union_grams"))
      .select("src_a", "src_b", "shared_grams", "jaccard_ppm")
  }

  /**
   * C68: source-level MinHash resemblance matrix — the SKETCH path for
   * corpus-pair similarity when neither [[sourceOverlap]]'s exact
   * bitmask (≤62 labels) nor its general fallback (per-gram source
   * sets) is affordable: per source, a `sigs`-long MinHash signature
   * of its distinct n-gram set, then estimated Jaccard for every
   * source pair from the tiny signature table. Each doc is signed
   * map-only by [[graft.functions.Md5MinhashSig]] and a source's slot j
   * is the min of its docs' slot j in ONE combining aggregate (min over
   * gram multisets IS min over the distinct set — no gram explode, no
   * distinct). Partial state per source is `sigs` longs at ANY corpus
   * size, and the pairwise step runs on |sources|² signature rows,
   * never on grams — so 10k-source corpora stay linear.
   *
   * Engine-portable determinism: gram hash h = md5₅₂(gram); each slot
   * re-hashes h with a slot salt (`md5(h || '_' || j)`), so the
   * per-slot orders are independent — a small-multiplier linear
   * permutation mod a big prime would never wrap (65·2⁵² < 2⁶¹) and
   * every slot would degenerate to the same global-min gram. Null-text
   * docs are dropped (a source of only those has no row); empty and
   * whitespace-only text is one "" shingle, as in [[TF.shingles]].
   * Estimator: agreeing-slot fraction; the oracle replays the
   * signatures bit-exactly.
   */
  def sourceMinhash(
      docs: DataFrame,
      n: Int = 3,
      sigs: Int = 32,
      sourceCol: String = "source",
      textCol: String = "text"): DataFrame = {
    require(sigs > 0 && sigs <= 64)
    // BOTH sides of the pairwise cross join reference this aggregate —
    // unpinned, each side re-runs the whole scan+signature+min pipeline
    // (the df⋈aggregate(df) recompute rule); the table is |sources|
    // rows, so the pin count is free
    val sig = Scoped.pinned(sourceSignatures(docs, n, sigs, sourceCol, textCol))
    val a = sig.select(col("source").as("src_a") +:
      (0 until sigs).map(j => col(s"s$j").as(s"a$j")): _*)
    val b = sig.select(col("source").as("src_b") +:
      (0 until sigs).map(j => col(s"s$j").as(s"b$j")): _*)
    val agree = (0 until sigs)
      .map(j => when(col(s"a$j") === col(s"b$j"), 1L).otherwise(0L))
      .reduce(_ + _)
    a.crossJoin(b).filter(col("src_a") < col("src_b"))
      .withColumn("agree", agree)
      .withColumn("est_jaccard_ppm", expr(s"agree * 1000000 div $sigs"))
      .select("src_a", "src_b", "agree", "est_jaccard_ppm")
  }

  /** [[sourceMinhash]]'s per-source signature table:
   * (source, s0..s{sigs-1}), slot j = min over the source's docs of
   * their [[graft.functions.Md5MinhashSig]] slot j. */
  private[graft] def sourceSignatures(
      docs: DataFrame, n: Int, sigs: Int, sourceCol: String, textCol: String): DataFrame = {
    val perDoc = docs.filter(col(textCol).isNotNull)
      .select(col(sourceCol).cast(StringType).as("source"),
        explode(graft.functions.SingletonArray(graft.functions.Md5MinhashSig(
          TF.tokens(col(textCol)), n, sigs))).as("__sig"))
    val slots = (0 until sigs).map(j => min(element_at(col("__sig"), j + 1)).as(s"s$j"))
    perDoc.groupBy("source").agg(slots.head, slots.tail: _*)
  }

  /** General-shape [[sourceOverlap]] fallback (>62 or null labels):
   * distinct (source, gram) → per-gram sorted source set (bounded by
   * the label count) → pair explode → pair count; Jaccard from a
   * broadcast per-source distinct-gram table.
   *
   * `maxSourcesPerGram` bounds the quadratic heart of this shape: the
   * pair explode emits |set|² rows per gram, so ONE universal
   * boilerplate gram shared by 10k sources would alone yield 5·10⁷
   * pairs — grams owned by more than the cap are DROPPED before the
   * explode (C40-dfCap semantics: a documented recall trade, and the
   * right one — a gram every source shares carries no pairwise
   * signal, exactly like a stopword posting in BM25). The per-source
   * union denominators still count ALL grams, so capped Jaccards are
   * conservative (never inflated). The trade is OBSERVABLE, not
   * silent: the plan carries an `observe("source_overlap_cap",
   * dropped_grams)` metric — collected for free during the action, no
   * second scan — so a QueryExecutionListener (or
   * `df.observedMetrics` in tests) reports exactly how many gram sets
   * the cap removed. Corpora where even capped sets are
   * too hot belong on [[sourceMinhash]], whose pairwise step never
   * touches grams at all. */
  private[graft] def sourceOverlapGeneral(
      docs: DataFrame,
      n: Int,
      sourceCol: String,
      textCol: String,
      maxSourcesPerGram: Int = 64): DataFrame = {
    // consumed by the pair join and the per-source totals
    val sp = docs.select(
      col(sourceCol).cast(StringType).as("source"),
      explode(TF.shingles(col(textCol), n)).as("gs"))
      .select(col("source"), xxhash64(col("gs")).as("g"))
      .distinct().transform(Scoped.pinned)
    val sets = sp.groupBy("g").agg(sort_array(collect_set(col("source"))).as("ss"))
      .observe("source_overlap_cap",
        sum(when(size(col("ss")) > maxSourcesPerGram, 1L).otherwise(0L))
          .as("dropped_grams"))
      .filter(size(col("ss")) <= maxSourcesPerGram)
    val pairs = sets
      .select(explode(col("ss")).as("src_a"), col("ss"))
      .select(col("src_a"), explode(col("ss")).as("src_b"))
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("shared_grams"))
    val dg = sp.groupBy(col("source")).agg(count(lit(1)).as("d"))
    pairs
      .join(broadcast(dg.select(col("source").as("src_a"), col("d").as("da"))), "src_a")
      .join(broadcast(dg.select(col("source").as("src_b"), col("d").as("db"))), "src_b")
      .withColumn("jaccard_ppm",
        expr("shared_grams * 1000000 div (da + db - shared_grams)"))
      .select("src_a", "src_b", "shared_grams", "jaccard_ppm")
  }

  /**
   * C59: hashed n-gram importance scoring — the DSIR selection shape
   * (Xie et al. 2023, "Data Selection for Language Models via
   * Importance Resampling"): hash every unigram and word bigram into
   * `buckets` feature cells, estimate each cell's affinity for a
   * TARGET distribution (the docs flagged by `targetFlagCol` — e.g. a
   * trusted high-quality subset) vs the RAW corpus, and score every
   * document by its features' summed affinity. Top-scored documents
   * are the ones whose n-gram profile looks most like the target —
   * the standard way to upsample quality data out of a 100 TB crawl.
   *
   * Determinism: the per-cell weight is the integer odds ratio
   * `(target_count+1)·1e6 div (total_count+2)` (add-one smoothed,
   * monotone in the target/raw likelihood ratio that DSIR's log-ratio
   * uses, but exact in 64-bit floor arithmetic both engines
   * reproduce — no transcendental log whose last ulp could differ).
   *
   * Scale shape: the weight table is AT MOST `buckets` rows no matter
   * the corpus size — that is the entire point of feature hashing —
   * so it broadcasts, and the only wide operations are the two
   * combining aggregates (cell stats; per-doc sums). Feature
   * instances are persisted between the two consumers: the weight
   * build and the scoring join otherwise each re-run the
   * explode+md5 subplan (the df⋈aggregate(df) recompute rule).
   * Bigrams come from the codegen'd WordShingles pass; docs with a
   * single token contribute only their unigram (no degenerate
   * whole-doc shingle).
   */
  def importanceScore(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      targetFlagCol: String = "is_target",
      buckets: Int = 65536): DataFrame = {
    val base = docs.select(
      col(idCol),
      col(targetFlagCol).cast(LongType).as("__tgt"),
      TF.tokens(col(textCol)).as("__l"))
    val uni = base.select(col(idCol), col("__tgt"), explode(col("__l")).as("__g"))
    val big = base.filter(size(col("__l")) >= 2)
      .select(col(idCol), col("__tgt"),
        explode(graft.functions.WordShingles(col("__l"), 2)).as("__g"))
    val feats = uni.union(big)
      .select(col(idCol), col("__tgt"),
        (Md5HexSlice.md552(col("__g")) % buckets).as("__f"))
      .transform(Scoped.pinned)
    val wt = feats.groupBy("__f")
      .agg(expr("(sum(__tgt) + 1) * 1000000 div (count(*) + 2)").as("__w"))
    feats
      .join(broadcast(wt), "__f")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_feats"), sum("__w").as("__s"))
      .withColumn("imp_ppm", expr("__s div n_feats"))
      .select(col(idCol), col("n_feats"), col("imp_ppm"))
  }

  /**
   * C60: per-source lexical diversity — the corpus-health dashboard
   * row that catches template/boilerplate sources before they skew
   * training: token count, vocabulary size, type-token ratio,
   * hapax-legomenon count (terms seen once — collapses when a source
   * is machine-generated), and the Simpson repeat-rate
   * `Σ c·(c−1) / N·(N−1)` (probability two random tokens are the same
   * term — spikes on repetitive text). All integer-exact (ppm
   * scaling; the collision numerator stays inside a long up to ~3e9
   * tokens per source — shard the window beyond that).
   *
   * Plan: one (source, term) combining aggregate, then one per-source
   * aggregate — the same two-level shape as [[sourceDivergence]].
   */
  def diversityStats(
      docs: DataFrame,
      sourceCol: String = "source",
      textCol: String = "text"): DataFrame = {
    docs
      .select(col(sourceCol).as("source"), explode(TF.tokens(col(textCol))).as("w"))
      .select(col("source"), xxhash64(col("w")).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(
        sum("c").as("n_tokens"),
        count(lit(1)).as("distinct_terms"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax"),
        sum(expr("c * (c - 1)")).as("__coll"))
      .withColumn("ttr_ppm", expr("distinct_terms * 1000000 div n_tokens"))
      .withColumn("simpson_ppm",
        expr("case when n_tokens > 1 then __coll * 1000000 div (n_tokens * (n_tokens - 1)) else 0 end"))
      .select("source", "n_tokens", "distinct_terms", "hapax", "ttr_ppm", "simpson_ppm")
  }

  /**
   * C64: cross-snapshot token-distribution drift — the monitor that
   * catches a broken scraper, a source gone dark, or a vocabulary
   * shift BETWEEN two ingest runs before the mix trains on it. One
   * row: total tokens and vocab per side, shared vocab, the unigram
   * total-variation distance (ppm, same integer form as
   * [[sourceDivergence]]), and the probability mass sitting on tokens
   * only one side has (`new_mass_ppm` / `gone_mass_ppm`).
   *
   * Plan: one (term, count) combining aggregate per side, a full-outer
   * join on the 8-byte hashed term key, one final reduce — the
   * (id, md5)-only-shuffle principle of [[snapshotDiff]] applied to
   * distributions: document text never crosses the wire, only term
   * keys and counts.
   */
  def corpusDrift(
      oldDocs: DataFrame,
      newDocs: DataFrame,
      textCol: String = "text"): DataFrame = {
    val M = 1000000L
    def counts(df: DataFrame): DataFrame =
      df.select(explode(TF.tokens(col(textCol))).as("w"))
        .select(xxhash64(col("w")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
    val oc = counts(oldDocs).withColumnRenamed("c", "co")
    val nc = counts(newDocs).withColumnRenamed("c", "cn")
    val joined = oc.join(nc, Seq("w"), "full_outer")
      .select(coalesce(col("co"), lit(0L)).as("co"), coalesce(col("cn"), lit(0L)).as("cn"))
      .transform(Scoped.persistTracked)
    // totals are TWO longs — fetch them eagerly (pinning the persisted
    // join for the main pass) rather than broadcast-cross-joining an
    // aggregate of the same subplan, which would race the cold cache
    // and re-run both token aggregations twice
    val totRow = joined.agg(sum("co"), sum("cn")).head()
    val rawTo = if (totRow.isNullAt(0)) 0L else totRow.getLong(0)
    val rawTn = if (totRow.isNullAt(1)) 0L else totRow.getLong(1)
    val (to_, tn) = (math.max(rawTo, 1L), math.max(rawTn, 1L))
    joined
      .select(
        col("co"), col("cn"),
        expr(s"abs(co * ${M}L div ${to_}L - cn * ${M}L div ${tn}L)").as("d"),
        when(col("co") === 0L, expr(s"cn * ${M}L div ${tn}L")).otherwise(0L).as("nm"),
        when(col("cn") === 0L, expr(s"co * ${M}L div ${to_}L")).otherwise(0L).as("gm"))
      .agg(
        max(lit(rawTo)).as("old_tokens"),
        max(lit(rawTn)).as("new_tokens"),
        sum(when(col("co") > 0L, 1L).otherwise(0L)).as("old_vocab"),
        sum(when(col("cn") > 0L, 1L).otherwise(0L)).as("new_vocab"),
        sum(when(col("co") > 0L && col("cn") > 0L, 1L).otherwise(0L)).as("shared_vocab"),
        sum("d").as("tv_ppm"),
        sum("nm").as("new_mass_ppm"),
        sum("gm").as("gone_mass_ppm"))
  }

  /**
   * C33: GPT-style concat-and-chunk packing layout — documents in the
   * deterministic training order (md5(seed‖id), as [[shuffleOrder]])
   * are conceptually concatenated (each followed by `eosTokens` EOS
   * markers) and cut into fixed `seqLen`-token training sequences; each
   * document gets its global token offset and the first/last sequence
   * index it lands in.
   *
   * The global offset is a DISTRIBUTED PREFIX SUM (the TeraSort shape):
   * range-partition + sort on the order key, per-partition token
   * subtotals to the driver (O(partitions) longs), exclusive-scan the
   * offsets, broadcast them back, then one sequential pass per
   * partition. No single-partition window, no driver materialization of
   * rows — at 100 TB the only serial state is one long per partition.
   * Evaluating the sorted plan twice (subtotal job + output job) is
   * safe because the sort key (md5, id) is total and the range sort is
   * deterministic; persist `docs` upstream if recompute is expensive.
   */
  def packedSequenceSpans(
      docs: DataFrame,
      seqLen: Int,
      idCol: String = "doc_id",
      textCol: String = "text",
      seed: String = "graft",
      eosTokens: Int = 1): DataFrame = {
    require(seqLen > 0 && eosTokens >= 0)
    val spark = docs.sparkSession
    // NULL text must not poison the running offset (a null token count
    // would unbox to 0 AND corrupt last_seq arithmetic): count it as a
    // zero-word document that still costs its EOS marker
    val keyed = docs.select(
      col(idCol),
      md5(concat(lit(seed), col(idCol).cast(StringType))).as("__k"),
      (coalesce(TF.tokenCount(col(textCol)).cast(LongType), lit(0L)) + eosTokens).as("__t"))
    val sorted = keyed
      .repartitionByRange(spark.sparkContext.defaultParallelism, col("__k"), col(idCol))
      .sortWithinPartitions(col("__k"), col(idCol))
    val rdd = sorted.rdd
    val partSums = rdd
      .mapPartitionsWithIndex { case (pi, it) =>
        var s = 0L; it.foreach(s += _.getLong(2)); Iterator((pi, s))
      }
      .collect().sortBy(_._1).map(_._2)
    val offsets = spark.sparkContext.broadcast(partSums.scanLeft(0L)(_ + _))
    val out = rdd.mapPartitionsWithIndex { case (pi, it) =>
      var acc = offsets.value(pi)
      it.map { r =>
        val t = r.getLong(2)
        val start = acc
        acc += t
        org.apache.spark.sql.Row(r.get(0), start, start / seqLen, (acc - 1) / seqLen)
      }
    }
    spark.createDataFrame(out, StructType(Seq(
      sorted.schema(idCol),
      StructField("token_start", LongType, nullable = false),
      StructField("first_seq", LongType, nullable = false),
      StructField("last_seq", LongType, nullable = false))))
  }

  /**
   * C48: materialized training sequences — the step C33's span layout
   * stops short of: learned-BPE vocabulary IDS (codegen'd
   * [[graft.functions.BpeEncodeIds]], map-only) concatenated in
   * deterministic `idCol` order and cut into fixed `seqLen`-id blocks,
   * each block fingerprinted. Same distributed-prefix-sum scale shape
   * as [[packedSequenceSpans]] (range sort, O(partitions) driver
   * longs), but the encode is expensive, so the id table is
   * persisted+pinned before the subtotal and output jobs instead of
   * being recomputed. The id explode is linear in corpus tokens and
   * shuffles only (pos, id) pairs to seq_no groups; the per-sequence
   * digest is one [[graft.functions.PostingsMd5]] call over the
   * (pos, id) list — "pos:id pos:id …" md5, reproducible by the
   * independent driver-side `BpeCodec.encodeIds` replay the dynamic
   * oracle pins. Output: (seq_no, n_ids, ids_md5); the final partial
   * block keeps n_ids < seqLen.
   */
  def packTokenIds(
      docs: DataFrame,
      codec: graft.functions.BpeCodec,
      seqLen: Int,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(seqLen > 0)
    val spark = docs.sparkSession
    // feeds the subtotal + output jobs (encode is hot)
    val ids = docs.select(
        col(idCol).cast(LongType).as("__id"),
        coalesce(graft.functions.Bpe.encodeIdsCol(col(textCol), codec),
          typedlit(Array.empty[Int])).as("__ids"))
      .withColumn("__n", size(col("__ids")).cast(LongType))
      .transform(Scoped.pinned)
    val sorted = ids
      .repartitionByRange(spark.sparkContext.defaultParallelism, col("__id"))
      .sortWithinPartitions(col("__id"))
    val rdd = sorted.rdd
    val partSums = rdd.mapPartitionsWithIndex { case (pi, it) =>
        var s = 0L; it.foreach(s += _.getLong(2)); Iterator((pi, s))
      }.collect().sortBy(_._1).map(_._2)
    val offsets = spark.sparkContext.broadcast(partSums.scanLeft(0L)(_ + _))
    val withOff = rdd.mapPartitionsWithIndex { case (pi, it) =>
      var acc = offsets.value(pi)
      it.map { r =>
        val start = acc
        acc += r.getLong(2)
        org.apache.spark.sql.Row(r.get(1), start)
      }
    }
    val offDf = spark.createDataFrame(withOff, StructType(Seq(
      StructField("__ids", ArrayType(IntegerType, containsNull = false), nullable = false),
      StructField("__start", LongType, nullable = false))))
    offDf
      .select(col("__start"), posexplode(col("__ids")).as(Seq("__i", "__tok")))
      .select((col("__start") + col("__i")).as("__p"), col("__tok"))
      .withColumn("seq_no", expr(s"__p DIV $seqLen"))
      .withColumn("__pos", col("__p") % seqLen)
      .groupBy("seq_no")
      .agg(
        count(lit(1)).as("n_ids"),
        graft.functions.PostingsMd5(collect_list(
          struct(col("__pos"), col("__tok").cast(LongType)))).as("ids_md5"))
  }

  /**
   * C119: packed-example assembly — the step between the example
   * builders (C116/C117/C118 emit ONE example per document) and
   * training batches: concatenate examples in a deterministic
   * md5-keyed order and cut the stream into fixed `seqLen`-token
   * sequences, emitting per sequence the EXAMPLE-BOUNDARY layout a
   * trainer needs for attention-mask resets — where examples start
   * (`boundary_offsets`, plus an order-insensitive (offset, id) digest
   * for the oracle), whether position 0 continues an example from the
   * previous sequence (`starts_mid`, the MARKED straddle: concat
   * packing lets an example cross a boundary, but every crossing is
   * visible so the trainer can mask or drop the continuation), and
   * the straddled token mass (`carry_in_tokens` — the pad-waste
   * currency of masked packing, C78's audit grain). `shard` groups
   * `seqsPerShard` consecutive sequences for per-shard rollups.
   *
   * Scale shape: the C33 distributed prefix sum (range sort on the
   * md5 key, O(partitions) driver longs) assigns each example its
   * global token offset; coverage explodes ONE row per (example,
   * covered sequence) — total rows = total_tokens/seqLen + n_examples,
   * linear — and one combining aggregate keyed by seq_no builds the
   * layout. No windows over corpus frames, no per-token explode.
   * Zero-length examples are dropped (nothing to pack — callers'
   * lengths include their EOS, so only a genuinely empty row hits
   * this).
   */
  def packExamples(
      examples: DataFrame,
      seqLen: Int,
      idCol: String = "doc_id",
      lenCol: String = "ex_tokens",
      seqsPerShard: Int = 64,
      seed: String = "graft"): DataFrame = {
    require(seqLen > 0 && seqsPerShard > 0)
    val spark = examples.sparkSession
    // 52-bit md5 prefix as the shuffle-order key (the md5₅₂ device):
    // the range sort and every exchange carry 8 bytes instead of a
    // 32-char hex string, and the (key, id) tiebreak makes prefix
    // collisions harmless — the oracle orders by the SAME prefix.
    val keyed = examples.select(
        col(idCol).cast(LongType).as("__id"),
        Md5HexSlice.md552(concat(lit(seed), col(idCol).cast(StringType))).as("__k"),
        col(lenCol).cast(LongType).as("__t"))
      .filter(col("__t") > 0)
    val sorted = keyed
      .repartitionByRange(spark.sparkContext.defaultParallelism, col("__k"), col("__id"))
      .sortWithinPartitions(col("__k"), col("__id"))
    val rdd = sorted.rdd
    val partSums = rdd
      .mapPartitionsWithIndex { case (pi, it) =>
        var s = 0L; it.foreach(s += _.getLong(2)); Iterator((pi, s))
      }
      .collect().sortBy(_._1).map(_._2)
    val offsets = spark.sparkContext.broadcast(partSums.scanLeft(0L)(_ + _))
    val out = rdd.mapPartitionsWithIndex { case (pi, it) =>
      var acc = offsets.value(pi)
      it.map { r =>
        val t = r.getLong(2)
        val start = acc
        acc += t
        org.apache.spark.sql.Row(r.getLong(0), start, t)
      }
    }
    val ex = spark.createDataFrame(out, StructType(Seq(
      StructField("__id", LongType, nullable = false),
      StructField("__start", LongType, nullable = false),
      StructField("__t", LongType, nullable = false))))
    val L = seqLen.toLong
    ex
      .withColumn("__end", col("__start") + col("__t") - 1)
      .withColumn("seq_no",
        explode(sequence(expr(s"__start div $L"), expr(s"__end div $L"))))
      .select(col("__id"),
        col("seq_no"),
        (least(col("__end"), (col("seq_no") + 1) * L - 1) -
          greatest(col("__start"), col("seq_no") * L) + 1).as("__c"),
        (expr(s"__start div $L") === col("seq_no")).as("__is"),
        (col("__start") % L).as("__off"))
      .groupBy("seq_no")
      .agg(
        sum(col("__c")).as("filled_tokens"),
        sum(when(col("__is"), 1L).otherwise(0L)).as("n_starts"),
        // at most one example can cover a sequence's head without
        // starting in it, so this sum IS that example's token mass
        sum(when(!col("__is"), col("__c")).otherwise(0L)).as("carry_in_tokens"),
        sort_array(collect_list(when(col("__is"), col("__off"))))
          .as("boundary_offsets"),
        graft.functions.PostingsMd5(collect_list(
          when(col("__is"), struct(col("__off"), col("__id")))))
          .as("boundaries_md5"))
      .select(col("seq_no"),
        expr(s"seq_no div $seqsPerShard").as("shard"),
        col("filled_tokens"),
        (lit(L) - col("filled_tokens")).as("pad_tokens"),
        col("n_starts"),
        (col("carry_in_tokens") > 0).as("starts_mid"),
        col("carry_in_tokens"),
        col("boundary_offsets"),
        col("boundaries_md5"))
  }

  /**
   * C117: fill-in-the-middle (FIM) transformation — Bavarian et al.
   * 2022 ("Efficient Training of Language Models to Fill in the
   * Middle"), the code/infilling data-prep stage between cleaning and
   * packing: split each document's token sequence at two cut points
   * into (prefix, middle, suffix) and emit the sentinel-delimited
   * reordering — PSM (`<fim_prefix> P <fim_suffix> S <fim_middle> M`,
   * the canonical order) or SPM (suffix first — the paper's joint
   * 50/50 training mix). Cut points, the PSM/SPM coin, and the
   * per-doc FIM-rate gate are all md5₅₂ arithmetic on the doc id
   * (the C14/C17 device), so the whole transform — cuts, mode,
   * reassembled text — replays byte-exact in SQL. Ungated docs pass
   * through as mode `plain` (the paper applies FIM to a fraction and
   * leaves the rest autoregressive).
   *
   * Map-only: tokens → two slices → one array concat + join, all
   * codegen'd builtins, no shuffle — the only acceptable shape for an
   * every-document rewrite at 100 TB.
   *
   * @param fimPpm parts-per-million of docs transformed (md5 residue
   *               gate; 500000 = the paper's 50% rate)
   * @return (idCol, mode, n_tokens, prefix_tokens, middle_tokens,
   *         suffix_tokens, fim_text)
   */
  def fimTransform(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      fimPpm: Int = 500000): DataFrame = {
    require(fimPpm >= 0 && fimPpm <= 1000000, "fimPpm out of range")
    def h(tag: String, mod: Column): Column =
      Md5HexSlice.md552(concat(lit(tag), col(idCol).cast(StringType))) % mod
    val withCuts = docs
      .select(col(idCol), TF.tokens(col(textCol)).as("__t"))
      .withColumn("__n", size(col("__t")).cast(LongType))
      .withColumn("__gate", h("fim-g:", lit(1000000L)) < fimPpm)
      .withColumn("__h1", h("fim-a:", col("__n") + 1))
      .withColumn("__h2", h("fim-b:", col("__n") + 1))
      .withColumn("__c1", least(col("__h1"), col("__h2")))
      .withColumn("__c2", greatest(col("__h1"), col("__h2")))
      .withColumn("mode",
        when(!col("__gate"), "plain")
          .when(h("fim-m:", lit(2L)) === 0, "psm")
          .otherwise("spm"))
    val pre = slice(col("__t"), lit(1), col("__c1").cast(IntegerType))
    val mid = slice(col("__t"), (col("__c1") + 1).cast(IntegerType),
      (col("__c2") - col("__c1")).cast(IntegerType))
    val suf = slice(col("__t"), (col("__c2") + 1).cast(IntegerType),
      (col("__n") - col("__c2")).cast(IntegerType))
    val psm = array_join(concat(
      array(lit("<fim_prefix>")), pre, array(lit("<fim_suffix>")), suf,
      array(lit("<fim_middle>")), mid), " ")
    val spm = array_join(concat(
      array(lit("<fim_suffix>")), suf, array(lit("<fim_prefix>")), pre,
      array(lit("<fim_middle>")), mid), " ")
    withCuts.select(
      col(idCol), col("mode"),
      col("__n").as("n_tokens"),
      when(col("mode") === "plain", col("__n")).otherwise(col("__c1"))
        .as("prefix_tokens"),
      when(col("mode") === "plain", 0L).otherwise(col("__c2") - col("__c1"))
        .as("middle_tokens"),
      when(col("mode") === "plain", 0L).otherwise(col("__n") - col("__c2"))
        .as("suffix_tokens"),
      when(col("mode") === "plain", array_join(col("__t"), " "))
        .when(col("mode") === "psm", psm).otherwise(spm).as("fim_text"))
  }

  /**
   * C118: UL2 mixture-of-denoisers example builder (Tay et al. 2022
   * "UL2: Unifying Language Learning Paradigms" — the capstone of the
   * objective family: each document trains under ONE of three
   * denoisers, selected deterministically): R (regular — the C116 T5
   * span corruption, 3-token spans per 20-token window, 0.15 noise),
   * X (extreme — 5-token spans per 10-token window, 0.5 noise; the
   * aggressive UL2 arm), S (sequential — prefix-LM: a single md5 cut,
   * input = prefix + sentinel, target = sentinel + suffix). The
   * objective coin and the S cut are md5₅₂ arithmetic on the doc id
   * (the C14/C17 device), so the whole mixture replays in SQL.
   *
   * Plan shape: tokens+coin persisted ONCE, then THREE filtered
   * branches unioned — each document evaluates exactly its own arm
   * (a single projection computing all three denoisers per row would
   * triple the map work at 100 TB for no reason). Every arm is
   * map-only (SpanCorrupt codegen call / builtin slices); the union
   * adds no shuffle.
   *
   * @return (idCol, objective r|x|s, total_tokens, n_spans,
   *         masked_tokens, input_text, target_text)
   */
  def ul2Mixture(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    import graft.functions.SpanCorrupt
    def h(tag: String, mod: Column): Column =
      Md5HexSlice.md552(concat(lit(tag), col(idCol).cast(StringType))) % mod
    // three arm branches read it
    val base = docs
      .select(col(idCol), TF.tokens(col(textCol)).as("__t"))
      .withColumn("__n", size(col("__t")).cast(LongType))
      .withColumn("__coin", h("ul2-c:", lit(3L)))
      .transform(Scoped.pinned)
    def spanArm(coin: Int, name: String, window: Int, span: Int) =
      base.filter(col("__coin") === coin)
        .withColumn("__sc", SpanCorrupt(col("__t"), col(idCol), window, span))
        .select(col(idCol), lit(name).as("objective"),
          col("__n").as("total_tokens"),
          col("__sc.n_spans").cast(LongType).as("n_spans"),
          col("__sc.masked_tokens").cast(LongType).as("masked_tokens"),
          col("__sc.input_text").as("input_text"),
          col("__sc.target_text").as("target_text"))
    val sArm = base.filter(col("__coin") === 2)
      .withColumn("__cut", h("ul2-s:", col("__n") + 1))
      .select(col(idCol), lit("s").as("objective"),
        col("__n").as("total_tokens"),
        lit(1L).as("n_spans"),
        (col("__n") - col("__cut")).as("masked_tokens"),
        array_join(concat(
          slice(col("__t"), lit(1), col("__cut").cast(IntegerType)),
          array(lit("<extra_id_0>"))), " ").as("input_text"),
        array_join(concat(array(lit("<extra_id_0>")),
          slice(col("__t"), (col("__cut") + 1).cast(IntegerType),
            (col("__n") - col("__cut")).cast(IntegerType))), " ")
          .as("target_text"))
    spanArm(0, "r", 20, 3)
      .unionAll(spanArm(1, "x", 10, 5))
      .unionAll(sArm)
  }

  /**
   * C34: collocation extraction — corpus-level top-k word bigrams by an
   * integer-exact PMI-proportional score:
   *
   *   score(a,b) = count(ab) · totalTokens · 1000 div (count(a) · count(b))
   *
   * — monotone in exp(PMI), kept in integer arithmetic so any engine
   * reproduces the exact ranking (same convention as the C27 tf-idf
   * score). `minCount` prunes the pair table before the unigram joins.
   *
   * Plan: two map-side-combining aggregations (bigrams via the codegen'd
   * WordShingles pass, unigrams via explode) + two joins keyed on the
   * word + a k-bounded TakeOrdered — every shuffle carries (word, count)
   * pairs, never documents; the total-token scalar is one driver long.
   * At counts beyond ~3e9·3e9 move the score to DECIMAL(38,0) — longs
   * hold corpus sizes up to ~2^31 tokens per factor.
   */
  def collocations(
      docs: DataFrame,
      textCol: String = "text",
      k: Int = 20,
      minCount: Long = 5L): DataFrame = {
    val toks = docs.select(TF.tokens(lower(col(textCol))).as("__t"))
    // vocab-bounded and consumed three times (total-token action + the
    // two PMI joins) — unpersisted, each consumer re-ran the corpus
    // explode+aggregate (sourceDivergence finding; Scoped releases it)
    val uni = toks.select(explode(col("__t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .transform(Scoped.persistTracked)
    val tot = uni.agg(sum(col("c"))).first().getLong(0)
    val bi = toks
      .select(explode(graft.functions.WordShingles(col("__t"), 2)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("cab"))
      .filter(col("cab") >= minCount)
      .withColumn("w1", element_at(split(col("bg"), " "), 1))
      .withColumn("w2", element_at(split(col("bg"), " "), 2))
    bi
      .join(uni.select(col("w").as("w1"), col("c").as("ca")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("cb")), Seq("w2"))
      .withColumn("score", expr(s"cab * ${tot}L * 1000L div (ca * cb)"))
      .select(col("w1"), col("w2"), col("cab").as("pair_cnt"), col("score"))
      .orderBy(col("score").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /**
   * C35: LM-based quality scoring (the CCNet / Wenzek et al. 2020
   * shape: train a language model on the corpus, score every document
   * by how surprising the model finds it, filter the tails). The LM
   * here is the corpus unigram table itself and the per-token
   * surprisal is the integer-exact inverse probability
   *
   *   surprisal(w) = totalTokens div count(w)
   *
   * standing in for -log p(w) (monotone in it, reproducible in any
   * engine — no transcendental functions in the oracle path). A doc's
   * score is its mean token surprisal; high = rare/gibberish tail,
   * low = boilerplate tail.
   *
   * Plan shape (identical to a real KenLM-scored CCNet stage): the LM
   * build is one map-side-combining count aggregate over the exploded
   * token stream; scoring joins the stream back to the LM
   * token-co-partitioned, both shuffles on 8-byte xxhash64 keys. The
   * token stream is recomputed for each consumer (a map-only explode)
   * rather than cached — at corpus scale the explode is far cheaper
   * than materializing it.
   *
   * @return (idCol, ntok, surprisal_sum, rarity = surprisal_sum div ntok)
   */
  def lmSurprisal(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val tok = docs.select(col(idCol), explode(TF.tokens(col(textCol))).as("w"))
      .select(col(idCol), xxhash64(col("w")).as("w"))
    // the LM table is vocab-bounded; persist it and DERIVE the token
    // total from it (sum of counts) — the tot = tok.agg formulation
    // re-exploded the whole corpus for one number, and the unpersisted
    // lm re-ran the count aggregate inside the scoring join
    val lm = tok.groupBy("w").agg(count(lit(1)).as("c"))
      .transform(Scoped.persistTracked)
    // eager driver total: one tiny action that also PINS the lm cache
    // (a broadcast(tot) subplan raced the cold cache and recomputed the
    // aggregate — the sourceDivergence pin finding) and removes the
    // crossJoin from the scoring plan entirely
    val tot = lm.agg(sum(col("c"))).first().getLong(0)
    tok.join(lm, "w")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("ntok"),
        sum(expr(s"${tot}L div c")).as("surprisal_sum"))
      .withColumn("rarity", expr("surprisal_sum div ntok"))
  }

  /**
   * C36: BM25-shaped top-k full-text search (the retrieval side of a
   * training-data pipeline: dataset search, RAG indexing, targeted
   * decontamination). Scoring is the BM25 form with k1=1.2, b=0.75,
   * kept in milli-scaled integer arithmetic end to end:
   *
   *   idf_m(w)  = N·1000 div df(w)                (linear idf — monotone
   *                                                in N/df, portable: no log)
   *   tfn_m     = tf·2200·1000 div
   *               (tf·1000 + 1200·(250 + 750·dl·1000 div avgdl_m) div 1000)
   *   score     = Σ_w idf_m(w) · tfn_m(w)
   *
   * Plan shape (the inverted-index access path without building an
   * index): doc length is a map-only `size(tokens)` column — no
   * corpus-wide explode+groupBy; the exploded token stream is filtered
   * to the query terms BEFORE any shuffle, so every downstream exchange
   * carries only matching postings; the ≤|query|-row df table
   * broadcasts; N and avgdl are two driver longs. Per-query cost is
   * proportional to the posting lists, not the corpus.
   *
   * @return top-k (idCol, score, matched_terms) by (score desc, id)
   */
  def bm25TopK(
      docs: DataFrame,
      query: Seq[String],
      k: Int = 10,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val d = docs.select(col(idCol),
      TF.tokens(lower(col(textCol))).as("__t"))
      .withColumn("dl", size(col("__t")).cast(LongType))
    val fr = d.agg(count(lit(1)), sum(col("dl"))).first()
    val n = fr.getLong(0)
    val adlM = fr.getLong(1) * 1000L / n // Long division == div for positives
    // tf is tiny (matching docs × query terms) but computing it costs a
    // corpus explode; unpersisted, the dfTbl branch re-ran that explode
    val tf = d.select(col(idCol), explode(col("__t")).as("w"))
      .filter(col("w").isin(query: _*))
      .groupBy(col(idCol), col("w")).agg(count(lit(1)).as("tf"))
      .transform(Scoped.pinned)
    val dfTbl = tf.groupBy("w").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfTbl), "w")
      .join(d.select(col(idCol), col("dl")), idCol)
      .withColumn("contrib", expr(
        s"(${n}L * 1000L div df) * " +
          s"(tf * 2200L * 1000L div " +
          s"(tf * 1000L + 1200L * (250L + 750L * dl * 1000L div ${adlM}L) div 1000L))"))
      .groupBy(col(idCol))
      .agg(sum(col("contrib")).as("score"), count(lit(1)).as("matched_terms"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /**
   * C89: hybrid retrieval — Reciprocal Rank Fusion of the lexical
   * (BM25, C36) and semantic (seeded-IVF ANN, C7b) rankings for one
   * query, the standard two-tower retrieval shape (dataset search,
   * targeted decontamination, RAG indexing) where neither signal alone
   * is enough: BM25 misses paraphrases, ANN misses rare exact terms.
   * Fusion is integer-exact RRF:
   *
   *   rrf(d) = Σ_lists 1 000 000 div (rrfK + rank_list(d))
   *
   * (the classic 1/(k+r) scaled to integers so any engine reproduces
   * the fused ranking bit-for-bit; absent-from-list contributes 0 and
   * surfaces as rank 0 in the output).
   *
   * Scale shape: both legs are the already-bounded operators — BM25
   * touches only the query terms' postings, the IVF leg probes
   * `probes`/`nSeeds` of the corpus — and fusion itself joins two
   * ≤ kEach-row frames (driver-bounded by construction), so the whole
   * plan costs the same as its two legs. The query document itself is
   * excluded from BOTH legs (the ANN leg's self-filter, mirrored
   * lexically), matching what a dedup/decontamination caller wants.
   *
   * @return top `kOut` (idCol, bm25_rank, ann_rank, rrf_score) by
   *         (rrf_score desc, id); ranks are 0 when the doc missed that
   *         leg's top-`kEach`.
   */
  def hybridRrf(
      docs: DataFrame,
      embeddings: DataFrame,
      query: Seq[String],
      queryVecId: Long,
      kEach: Int = 20,
      kOut: Int = 10,
      rrfK: Int = 60,
      idCol: String = "doc_id",
      textCol: String = "text",
      vecIdCol: String = "vec_id",
      quantVecCol: String = "qv",
      nSeeds: Int = 16,
      probes: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lex = bm25TopK(docs.filter(col(idCol) =!= queryVecId), query, kEach,
      idCol, textCol)
    // Both legs are ≤ kEach rows by construction — the bounded
    // driver-collect contract (q_c51/q_c81 class): fusing locally emits
    // a LOCAL relation (zero scans, zero join machinery in the final
    // plan) instead of multiplying tiny-table scan references.
    val lexRanks: Map[Long, Int] = lex
      .withColumn("bm25_rank",
        row_number().over(Window.orderBy(col("score").desc, col(idCol))))
      .select(col(idCol).cast(LongType), col("bm25_rank"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val semRanks: Map[Long, Int] = Similarity
      .ivfTopKSeeded(embeddings, embeddings.filter(col(vecIdCol) === queryVecId),
        vecIdCol, quantVecCol, kEach, nSeeds, probes)
      .select(col("neighbor_id").cast(LongType), col("rank"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val fused = (lexRanks.keySet ++ semRanks.keySet).toSeq.map { id =>
      val br = lexRanks.getOrElse(id, 0)
      val ar = semRanks.getOrElse(id, 0)
      val s = (if (br > 0) 1000000L / (rrfK + br) else 0L) +
        (if (ar > 0) 1000000L / (rrfK + ar) else 0L)
      (id, br, ar, s)
    }.sortBy { case (id, _, _, s) => (-s, id) }.take(kOut)
    docs.sparkSession.createDataFrame(fused)
      .toDF(idCol, "bm25_rank", "ann_rank", "rrf_score")
  }

  /**
   * C90: vocabulary-growth curve (Heaps' law measurement — the corpus
   * diversity diagnostic: dedup/filter stages that work show up as a
   * flattening vocab curve, and the type-token ratio at each prefix is
   * the standard "is this corpus repeating itself" signal for data
   * mixes). The curve needs a cumulative "vocab seen after n tokens",
   * which naively wants a GLOBAL ingestion order (a full sort +
   * row_number at 100 TB). Instead the ingestion order IS md5 hash
   * space and checkpoints are FIXED thresholds in it: bucket(d) =
   * md5₅₂(id)·buckets div 2⁵², a token's arrival point is
   * min(bucket) over its docs, and every cumulative count is a sum
   * over ≤ `buckets` grouped rows — two map-combining aggregates (the
   * per-token min is the only corpus-sized shuffle, vocab-bounded
   * output), a bucket-grid outer join, and a ≤ buckets-row window. No
   * sort, no row_number, no driver state.
   *
   * @return per bucket: (bucket, docs_cum, tokens_cum, vocab_cum,
   *         ttr_ppm = vocab·10⁶ div tokens) — all integer-exact.
   */
  def vocabGrowth(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      buckets: Int = 16): DataFrame = {
    require(buckets >= 2 && buckets <= (1 << 16),
      s"buckets must be in [2, 65536], got $buckets")
    import org.apache.spark.sql.expressions.Window
    // md5₅₂(id)·buckets reaches 2⁶⁸: exact in decimal(38, 0), not in a long
    val b = call_function("div",
      Md5HexSlice.md552(col(idCol).cast(StringType)).cast(DecimalType(38, 0)) * buckets,
      lit(1L << 52)).cast(IntegerType)
    val d = docs.select(b.as("b"), TF.tokens(col(textCol)).as("__t"))
    val bd = d.groupBy("b").agg(
      count(lit(1)).as("dn"),
      sum(size(col("__t")).cast(LongType)).as("tn"))
    val nv = d.select(col("b"), explode(col("__t")).as("w"))
      .groupBy("w").agg(min(col("b")).as("fb"))
      .groupBy(col("fb").as("b")).agg(count(lit(1)).as("vn"))
    val grid = docs.sparkSession.range(buckets)
      .select(col("id").cast(IntegerType).as("b"))
    val w = Window.orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(bd, Seq("b"), "left").join(nv, Seq("b"), "left")
      .na.fill(0L, Seq("dn", "tn", "vn"))
      .select(col("b").as("bucket"),
        sum("dn").over(w).as("docs_cum"),
        sum("tn").over(w).as("tokens_cum"),
        sum("vn").over(w).as("vocab_cum"))
      .withColumn("ttr_ppm", expr(
        "CASE WHEN tokens_cum = 0 THEN 0L ELSE vocab_cum * 1000000L div tokens_cum END"))
      .orderBy("bucket")
  }

  /** Stage 2: quality gates (tune per corpus; defaults are permissive). */
  def qualityFilter(
      annotated: DataFrame,
      minTokens: Int = 5,
      maxPunctRatio: Double = 0.3): DataFrame =
    annotated
      .filter(col("n_tokens") >= minTokens)
      .filter(col("punct_ratio") <= maxPunctRatio)

  /**
   * Full pipeline: redact → annotate → gate → (optional) bloom
   * blocklist → (optional) decontaminate vs benchmark → exact dedup
   * (fingerprint) → near dedup (MinHash-LSH + Jaccard verify) →
   * deterministic md5 split (content-hashed → stable under
   * reprocessing and portable across engines).
   *
   * The returned DataFrame references a cached intermediate that stays
   * cached until the session ends — wrap the call in
   * [[Scoped.withCached]] when the result is consumed once and the
   * cache should not outlive it:
   * `Scoped.withCached(CorpusPipeline.run(docs))(_.write.parquet(out))`.
   */
  def run(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      nearDupThreshold: Double = 0.8,
      blocklist: Option[Array[Byte]] = None,
      benchmark: Option[DataFrame] = None,
      trainPct: Int = 90,
      valPct: Int = 5): DataFrame = {
    val gated = qualityFilter(annotate(redactPii(docs, textCol), textCol))
    val blocked = blocklist.fold(gated)(bloomBlocklist(gated, _, textCol))
    val clean = benchmark.fold(blocked)(decontaminate(blocked, _, idCol, textCol))
    // near-dedup references its input several times (signatures, two
    // verify joins, the final anti-join); without persistence each
    // reference re-runs the whole upstream chain (~4x the work)
    val exact = Scoped.persistTracked(Dedup.exact(clean, "fingerprint", idCol))
    Dedup.dropNearDuplicates(exact, idCol, textCol, nearDupThreshold)
      .withColumn("split", TF.hashSplit(col(textCol), trainPct, valPct))
  }

  /**
   * C82: contamination ATTRIBUTION matrix — C16 answers "is this doc
   * dirty"; this answers the forensics question a decontamination
   * report needs: WHICH benchmark leaked into WHICH source, and how
   * hard. Per (benchmark doc, source): the number of DISTINCT shared
   * word `n`-grams and the number of distinct contaminated corpus
   * docs. Off-diagonal mass tells you whether a source scraped the
   * eval set wholesale (many shingles, few docs) or the eval set
   * leaked into boilerplate (few shingles, many docs) — the two need
   * different remediations (drop the source vs scrub the grams).
   *
   * Scale shape: the benchmark side is the bounded broadcast contract
   * (eval sets are thousands of rows); the corpus side is one shingle
   * explode joined against it (join output ≤ |corpus shingles| ·
   * matches — bounded by the broadcast set, never corpus²), then ONE
   * (bench, source) aggregate with two distinct counts. No self-join,
   * no corpus shuffle beyond the final small-key aggregate.
   */
  def contaminationAttribution(
      docs: DataFrame,
      bench: DataFrame,
      benchIdCol: String = "bench_id",
      idCol: String = "doc_id",
      sourceCol: String = "source",
      textCol: String = "text",
      n: Int = 5): DataFrame = {
    // gate docs with < n tokens on BOTH sides: WordShingles degrades
    // them to ONE whole-doc shingle (q_c22 contract), which is not a
    // real n-gram and would fabricate attribution where the oracle's
    // comprehension emits nothing (the CLAUDE.md short-doc rule)
    val bsh = bench.filter(size(TF.tokens(col(textCol))) >= n)
      .select(col(benchIdCol).as("bench_id"),
        explode(TF.shingles(col(textCol), n)).as("sh")).distinct()
    val csh = docs.filter(size(TF.tokens(col(textCol))) >= n)
      .select(col(sourceCol).as("source"), col(idCol).as("__id"),
        explode(TF.shingles(col(textCol), n)).as("sh")).distinct()
    csh.join(broadcast(bsh), "sh")
      .groupBy("bench_id", "source")
      .agg(countDistinct(col("sh")).as("shared_shingles"),
        countDistinct(col("__id")).as("contaminated_docs"))
      .orderBy("bench_id", "source")
  }

  /**
   * C79: per-document n-gram repetition profile — the Gopher
   * repetition filters (Rae et al. 2021, "Scaling Language Models" —
   * Table A1's repetitious-text gates, as operationalized by the open
   * reproductions: Dolma / RedPajama / SlimPajama). For each document
   * and each n in `ns`: the character mass of the single MOST FREQUENT
   * word n-gram (`top_count · length(top_gram)` — ties broken to the
   * lexicographically smallest gram, so the answer is unique) and the
   * character mass of ALL duplicated n-grams
   * (`Σ_{count ≥ 2} count · length(gram)`), both as ppm of the
   * document's raw character length. Gopher drops a doc when
   * top-2/3/4-gram fractions exceed 0.20/0.18/0.16 or dup-5/6/7-gram
   * fractions exceed 0.15/0.14/0.13 — machine-generated and
   * boilerplate text fails these long before any quality classifier
   * fires, which is why they run FIRST in real 100 TB pipelines.
   *
   * Fidelity note: the published filters compute exactly this
   * count×length product — overlapping occurrences each counted — NOT
   * the union of covered character positions; the position-union view
   * of duplication is [[duplicatedSpans]] (C43). Gram length is the
   * space-joined gram string's length (separators included, as in the
   * reference implementations' `len(" ".join(ngram))`).
   *
   * Scale shape: MAP-ONLY — repetition is a function of one document
   * alone, so nothing here needs an exchange. Each n's statistics come
   * from one codegen'd per-row hash map
   * ([[graft.functions.RepetitionStats]], the WordShingles
   * static-helper escalation pattern: the first-cut groupBy-(doc, n,
   * gram) plan shuffled |corpus tokens|·|ns| gram instances to compute
   * what a row-local map answers in place — 3.9 s → sub-second at
   * sf0.1, and at 100 TB the difference is an exchange of the entire
   * tokenized corpus vs none). The per-n structs ride one posexplode;
   * a doc with fewer than n tokens yields a NULL struct and drops out
   * of tier n (the WordShingles whole-doc degenerate shingle, q_c22
   * contract, is not a real n-gram and would fake a repetition signal
   * on short docs). All integer — oracle-replayable bit-for-bit.
   */
  def repetitionProfile(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      ns: Seq[Int] = Seq(2, 3, 4, 5, 6, 7)): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1))
    val nsArr = ns.distinct.sorted
    val statCols = nsArr.map(n => graft.functions.RepetitionStats(col("__t"), n))
    docs
      .select(col(idCol), length(col(textCol)).as("__chars"),
        TF.tokens(col(textCol)).as("__t"))
      .select(col(idCol), col("__chars"),
        posexplode(array(statCols: _*)).as(Seq("__ni", "__s")))
      .filter(col("__s").isNotNull)
      .select(col(idCol),
        element_at(typedlit(nsArr), col("__ni") + 1).as("n"),
        col("__s.top_gram").as("top_gram"),
        col("__s.top_count").as("top_count"),
        col("__s.top_char_mass").as("top_char_mass"),
        col("__s.dup_char_mass").as("dup_char_mass"),
        col("__s.gram_instances").as("gram_instances"),
        col("__chars").as("chars"))
      .withColumn("top_ppm",
        expr("top_char_mass * 1000000 div greatest(chars, 1)"))
      .withColumn("dup_ppm",
        expr("dup_char_mass * 1000000 div greatest(chars, 1)"))
  }

  /**
   * C92: IPF mixture raking (Deming–Stephan iterative proportional
   * fitting, the survey-statistics workhorse applied to training-data
   * mixture design): C50's temperature solver balances ONE axis; real
   * mixes must hit per-SOURCE and per-LANGUAGE token targets
   * SIMULTANEOUSLY (e.g. "flatten the source head AND boost
   * low-resource languages"), and the two marginals fight — scaling
   * sources breaks the language mix and vice versa. IPF alternates
   * row- and column-scaling of the (source × language) cell weights;
   * each full round is two rescalings and the iteration converges
   * geometrically to the unique mix matching both marginals (when one
   * exists; with zeros in the cell table it converges to the
   * I-projection onto the feasible set).
   *
   * Both target marginals here are temperature α = 0.5 weights over
   * the axis's token totals (the C50 exponent), integer-exact via the
   * floor-sqrt ±1 correction; cell weights live in ppm of the corpus
   * (≤ 10⁶), so every product in the update fits comfortably in a
   * long (w · target ≤ 10¹²) and every division is a truncating
   * integer `div` — the whole iteration is replayed bit-for-bit by
   * the unrolled-CTE oracle (the q_c66 perceptron device). Exactness
   * bound: the ppm seed `n·10⁶ div N` needs `n·10⁶` in a long, i.e.
   * per-cell token counts ≤ 9.2·10¹² (≈ 35 TB of text in ONE cell) —
   * beyond that, pre-scale the counts.
   *
   * Scale shape: ONE map-side-combining corpus aggregate melts 100 TB
   * to |sources|·|langs| cells — bounded METADATA scale (a mixture
   * design rarely crosses 10⁴ cells; `maxCells` hard-guards the
   * contract) — so everything after lives on the driver and the
   * result is a LOCAL relation (the q_c51/q_c81/q_c89 class: zero
   * scans in the returned plan, no 2·rounds-deep window chain, no
   * cached frame printed once per consumer).
   *
   * @return per cell: (source, lang, n_tokens, w0_ppm, w_ppm,
   *         target_src_ppm, target_lang_ppm, src_sum_ppm,
   *         lang_sum_ppm) — w_ppm is the raked mix weight; the
   *         *_sum_ppm columns audit how close the final mix sits to
   *         each target (within truncation, src_sum_ppm ≈
   *         target_src_ppm after a row step ends the loop... the loop
   *         ends on a COLUMN step, so lang_sum_ppm matches its target
   *         exactly up to per-cell truncation and src_sum_ppm carries
   *         the residual gap IPF is still closing).
   */
  def ipfMixture(
      docs: DataFrame,
      rounds: Int = 4,
      sourceCol: String = "source",
      langCol: String = "lang",
      textCol: String = "text",
      maxCells: Int = 1 << 16): DataFrame = {
    require(rounds >= 1 && rounds <= 8, s"rounds must be in [1, 8], got $rounds")
    val M = 1000000L
    val cells = docs
      .select(col(sourceCol).cast(StringType).as("src"),
        col(langCol).cast(StringType).as("lg"),
        coalesce(TF.tokenCount(col(textCol)).cast(LongType), lit(0L)).as("__t"))
      .groupBy("src", "lg").agg(sum("__t").as("n"))
      .collect() // |sources|·|langs| rows — bounded metadata-scale driver state
      .map(r => ((Option(r.getString(0)), Option(r.getString(1))), r.getLong(2)))
    require(cells.length <= maxCells,
      s"ipfMixture cell table has ${cells.length} rows (> maxCells=$maxCells); " +
        "this operator's driver-side contract is metadata-scale marginals")
    def isqrt(n: Long): Long = {
      // correction steps compare via division, not (s±1)², so an AXIS
      // token sum approaching 2^63 cannot overflow the multiply (the
      // r12 ADVICE finding — the documented 9.2e12 per-cell bound
      // covers the ppm seed, not a whole-axis sum)
      val s0 = math.max(math.sqrt(n.toDouble).toLong, 0L)
      if (s0 + 1 <= n / (s0 + 1)) s0 + 1
      else if (s0 > 0 && s0 > n / s0) s0 - 1
      else s0
    }
    // every per-axis sum is ONE O(cells) pass (a per-key rescan would
    // make the driver loop O(axisKeys·cells) — round-12 review finding)
    def axisSum(m: Map[(Option[String], Option[String]), Long],
        of: ((Option[String], Option[String])) => Option[String])
        : Map[Option[String], Long] =
      m.groupMapReduce { case (c, _) => of(c) } { case (_, v) => v }(_ + _)
    // temperature α=0.5 target marginal for one axis, in ppm
    def targets(of: ((Option[String], Option[String])) => Option[String])
        : Map[Option[String], Long] = {
      val ws = axisSum(cells.toMap, of).view.mapValues(isqrt).toMap
      val s = math.max(ws.values.sum, 1L)
      ws.map { case (k, w) => k -> w * M / s }
    }
    val tSrc = targets(_._1)
    val tLang = targets(_._2)
    val tot = math.max(cells.map(_._2).sum, 1L)
    var w = cells.map { case (c, n) => c -> n * M / tot }.toMap
    for (_ <- 1 to rounds) {
      val rs = axisSum(w, _._1)
      w = w.map { case (c, v) => c -> v * tSrc(c._1) / math.max(rs(c._1), 1L) }
      val cs = axisSum(w, _._2)
      w = w.map { case (c, v) => c -> v * tLang(c._2) / math.max(cs(c._2), 1L) }
    }
    val srcSum = axisSum(w, _._1)
    val langSum = axisSum(w, _._2)
    val rows = cells.map { case (c @ (s, l), n) =>
      Row(s.orNull, l.orNull, n, n * M / tot, w(c), tSrc(s), tLang(l),
        srcSum(s), langSum(l))
    }
    docs.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      StructType(Seq(
        StructField(sourceCol, StringType),
        StructField(langCol, StringType),
        StructField("n_tokens", LongType),
        StructField("w0_ppm", LongType),
        StructField("w_ppm", LongType),
        StructField("target_src_ppm", LongType),
        StructField("target_lang_ppm", LongType),
        StructField("src_sum_ppm", LongType),
        StructField("lang_sum_ppm", LongType))))
      .orderBy(sourceCol, langCol)
  }

  /**
   * C97: stratified eval split with EXACT per-stratum counts — C14's
   * hash split hits its proportions only in expectation (a 1%
   * eval rate on a 10k-doc stratum lands 100 ± 10 docs), which is
   * fine for train/test but NOT for building an eval set whose
   * stratum mix must match the training mix exactly (the standard
   * held-out-set construction rule). Per (stratum) of `n` docs this
   * takes exactly `n·evalPpm div 10⁶` docs, chosen as the first k in
   * (md5(text), id) order — content-hash order, so the selection is
   * reprocessing-stable (the C17/C28 device: re-runs and engine ports
   * pick the SAME docs) and adding docs to a stratum only perturbs
   * the selection locally.
   *
   * Scale shape: ONE range-sort shuffle on a slim frame (id, stratum
   * key, 32-char md5 — the q_c93 slim-key rule: text never shuffles)
   * through the [[GroupedScan]] distributed prefix scan (NOT a
   * per-stratum window, which would sort each stratum in one task —
   * the r12 verdict's parallelism-cliff finding), then a map-side
   * final aggregate. Parallelism tracks partitions, not |strata|.
   *
   * @return per stratum: (source, lang, n_docs, eval_docs, eval_ppm
   *         = eval_docs·10⁶ div n_docs, eval_id_sum — the id sum
   *         fingerprints the exact selection for the oracle).
   */
  def stratifiedEvalSplit(
      docs: DataFrame,
      evalPpm: Long,
      sourceCol: String = "source",
      langCol: String = "lang",
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(evalPpm >= 0L && evalPpm <= 1000000L,
      s"evalPpm=$evalPpm must be in [0, 1e6]")
    val slim = docs.select(
      col(sourceCol).cast(StringType).as("src"),
      col(langCol).cast(StringType).as("lg"),
      col(idCol).cast(LongType).as("id"),
      md5(col(textCol)).as("hk"),
      lit(1L).as("one"))
    GroupedScan.prefixScan(slim, Seq("src", "lg"), Seq("hk", "id"), "one")
      .withColumn("rnk", col("__rnk"))
      .withColumn("n", col("__gn"))
      .withColumn("k", expr(s"n * ${evalPpm}L div 1000000L"))
      .groupBy(col("src").as(sourceCol), col("lg").as(langCol))
      .agg(
        max("n").as("n_docs"),
        max("k").as("eval_docs"),
        expr("max(k) * 1000000L div max(n)").as("eval_ppm"),
        sum(when(col("rnk") <= col("k"), col("id")).otherwise(0L))
          .as("eval_id_sum"))
      .orderBy(sourceCol, langCol)
  }

  /**
   * C98: token-exact budget fill — C50's temperature mixture APPLIES
   * its per-source rates as a content-hash ppm filter, which hits the
   * token target only in expectation; a training run with a HARD
   * per-source token budget (the "exactly 30B tokens of code" spec
   * line) needs the greedy deterministic fill instead: walk the
   * source's docs in (md5(text), id) order — the same
   * reprocessing-stable order as C97/C28 — and admit every doc whose
   * RUNNING token total still fits the budget (prefix-sum ≤ budget:
   * the first doc that would overflow stops the fill; docs after it
   * are out even if they'd fit, keeping the admitted set a stable
   * PREFIX of the hash order rather than a knapsack whose membership
   * flips under reprocessing).
   *
   * Scale shape: one range-sort shuffle on a slim (id, source,
   * tokens, md5) frame — running sums come from the [[GroupedScan]]
   * distributed prefix scan (NOT a per-source window, whose
   * parallelism caps at |sources| — the r12 verdict finding), no
   * iteration, O(partitions + |sources|) driver longs.
   *
   * @return per source: (source, n_docs, n_tokens, admitted_docs,
   *         admitted_tokens, fill_ppm = admitted_tokens·10⁶ div
   *         budget, admitted_id_sum).
   */
  def tokenBudgetFill(
      docs: DataFrame,
      budgetTokens: Long,
      sourceCol: String = "source",
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(budgetTokens >= 1L, s"budgetTokens=$budgetTokens must be >= 1")
    val slim = docs.select(
      col(sourceCol).cast(StringType).as("src"),
      col(idCol).cast(LongType).as("id"),
      coalesce(TF.tokenCount(col(textCol)).cast(LongType), lit(0L)).as("t"),
      md5(col(textCol)).as("hk"))
    GroupedScan.prefixScan(slim, Seq("src"), Seq("hk", "id"), "t")
      .withColumn("cum", col("__cum"))
      .withColumn("admit", col("cum") <= budgetTokens)
      .groupBy(col("src").as(sourceCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum("t").as("n_tokens"),
        sum(when(col("admit"), 1L).otherwise(0L)).as("admitted_docs"),
        sum(when(col("admit"), col("t")).otherwise(0L)).as("admitted_tokens"),
        expr(s"sum(CASE WHEN admit THEN t ELSE 0L END) * 1000000L div ${budgetTokens}L")
          .as("fill_ppm"),
        sum(when(col("admit"), col("id")).otherwise(0L)).as("admitted_id_sum"))
      .orderBy(sourceCol)
  }

  /**
   * C99: retrieval-aware semantic packing (the in-context-pretraining
   * layout, Shi et al. 2023 "In-Context Pretraining: Language Modeling
   * Beyond Document Boundaries" — packing RELATED documents into one
   * context window instead of random neighbors measurably improves
   * long-context use of the window): documents route to their nearest
   * seeded IVF cell (the C7b assignment — cell co-membership is the
   * retrieval link, bounded where a true NN-chain tour is not), each
   * cell's stream is ordered by the reprocessing-stable (md5(text),
   * id) key and concat-chunked into `seqLen`-token packs (the C33
   * layout per cell). Per pack: documents touching it, DISTINCT
   * `metaCol` values (the cohesion read — a lang-correlated embedding
   * space shows near-1 purity here vs the C33 global-shuffle
   * baseline), and exact token occupancy.
   *
   * Scale shape: seeds are the bounded driver contract (C7b); the
   * assignment is one map-only codegen pass; the pack layout is ONE
   * range-sort prefix scan ([[GroupedScan]]) on a slim frame (id,
   * meta, tokens, 32-char md5 — the q_c93 slim-key rule) + a
   * ceil(t/seqLen)+1-pack explode per doc (≤ 2 when docs are shorter
   * than seqLen) + one aggregate. Layout parallelism tracks
   * PARTITIONS, not nSeeds — a hot cell spans partitions under the
   * range sort (the r12 verdict's C99 cliff: a per-cell window would
   * funnel the whole corpus through ≤ nSeeds sort tasks). Packs still
   * never straddle cells: the prefix sum resets per cell.
   *
   * Hot-cell sub-splitting (`maxCellDocs` > 0 — the C81 split
   * proposal, r13 verdict stretch): nSeeds is a RETRIEVAL choice
   * (how related "related" means) and should not also dictate how
   * long one cell's pack chain grows — a skewed embedding space
   * routes most of the corpus to a few cells, whose single ordered
   * streams then dominate curation. With a cap, each cell splits
   * into s = ⌈n_cell / maxCellDocs⌉ deterministic sub-streams
   * (md5-residue of the doc's stable hash key — the C14 hash_split
   * device, SQL-replayable; residues hash-balance rather than
   * hard-cap) and packs form within (cell, subcell). Cohesion is
   * preserved — every pack still holds same-cell docs — while chain
   * length tracks the CURATION knob. Default 0 keeps the un-split
   * layout (and output shape) bit-identical.
   *
   * @return per pack: (cell, pack, n_docs, n_meta, tokens), plus a
   *         leading `subcell` grouping column when sub-splitting.
   */
  def semanticPack(
      docs: DataFrame,
      vecs: DataFrame,
      seqLen: Int,
      nSeeds: Int = 16,
      idCol: String = "doc_id",
      textCol: String = "text",
      metaCol: String = "lang",
      vecIdCol: String = "vec_id",
      quantVecCol: String = "qv",
      eosTokens: Int = 1,
      maxCellDocs: Long = 0L): DataFrame = {
    require(seqLen > 0 && eosTokens >= 0 && nSeeds >= 1,
      s"seqLen=$seqLen, eosTokens=$eosTokens, nSeeds=$nSeeds out of range")
    val cmat: Array[Array[Double]] = vecs.filter(col(vecIdCol) < nSeeds)
      .orderBy(vecIdCol)
      .select(col(quantVecCol).cast("array<double>").as("__c"))
      .collect().map(_.getSeq[Double](0).toArray)
    require(cmat.nonEmpty, s"no seed rows with $vecIdCol < $nSeeds")
    val assigned = docs
      .select(col(idCol).cast(LongType).as("id"),
        col(metaCol).cast(StringType).as("meta"),
        (coalesce(TF.tokenCount(col(textCol)).cast(LongType), lit(0L)) + eosTokens)
          .as("t"),
        md5(col(textCol)).as("hk"))
      .join(vecs.select(col(vecIdCol).cast(LongType).as("id"),
        col(quantVecCol).cast("array<double>").as("__v")), Seq("id"))
      .withColumn("cell", element_at(
        graft.functions.NearestCells(col("__v"), cmat, 1), 1).cast(LongType))
      // slim BEFORE the range-sort shuffle: the vector array must not
      // ride the layout exchange
      .select("id", "meta", "t", "hk", "cell")
      .filter(col("t") > 0L) // a 0-token doc (null text, eosTokens=0) has no span
    val split = maxCellDocs > 0L
    val routed =
      if (!split) assigned
      else {
        // assigned JOIN aggregate(assigned): both sides replay the
        // docs scan + nSeeds×D affinity dots unless persisted (the
        // dupGramStats lesson)
        val pinned = Scoped.pinned(assigned)
        // one broadcast ≤ nSeeds-row count table decides each cell's
        // sub-stream count; the residue key is deterministic and
        // engine-portable (first 13 md5 hex digits, the C14 device)
        val cc = pinned.groupBy("cell").agg(count(lit(1)).as("__n"))
        pinned.join(broadcast(cc), Seq("cell"))
          .withColumn("subcell",
            conv(substring(col("hk"), 1, 13), 16, 10).cast(LongType) %
              expr(s"(__n + ${maxCellDocs}L - 1L) div ${maxCellDocs}L"))
          .drop("__n")
      }
    val groupKeys = if (split) Seq("cell", "subcell") else Seq("cell")
    GroupedScan.prefixScan(routed, groupKeys, Seq("hk", "id"), "t")
      .withColumn("cum", col("__cum"))
      .withColumn("strt", col("cum") - col("t"))
      .withColumn("pack", explode(sequence(
        expr(s"strt div ${seqLen}L"), expr(s"(cum - 1L) div ${seqLen}L"))))
      .groupBy((groupKeys :+ "pack").map(col): _*)
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("meta")).as("n_meta"),
        sum(least(expr(s"(pack + 1L) * ${seqLen}L"), col("cum")) -
          greatest(expr(s"pack * ${seqLen}L"), col("strt"))).as("tokens"))
      .orderBy((groupKeys :+ "pack").map(col): _*)
  }

  /**
   * C94: Zipf rank–frequency slope per source (the companion diagnostic
   * to C90's Heaps law: natural text shows log-frequency falling
   * ~linearly in log-rank with slope ≈ −1; template/machine-generated
   * corpora flatten or step the curve, and a slope shift after a
   * pipeline stage is the "did dedup change the distribution" signal).
   * Floats would poison cross-engine hashes, so both logs are exact
   * integer log2 floors — `length(bin(x)) − 1`, a device both engines
   * evaluate identically on positive integers — and the fit is exact
   * integer least squares over the ≤ 64 per-source (log2-rank-bucket,
   * mean log2-frequency·10³) points, with the slope/intercept as
   * truncating `div` milli values (negative slopes truncate toward
   * zero in BOTH engines — the probed CLAUDE.md rule).
   *
   * Scale shape: ONE corpus-sized (source, token) count shuffle
   * (map-side combining, vocab-bounded output), per-source frequency
   * ranks via the [[GroupedScan]] distributed prefix scan (NOT a
   * per-source window, whose parallelism caps at |sources| even on a
   * billion-term vocab table — the r12 verdict finding), then two
   * tiny aggregates. Sources with < 2 occupied buckets (or a
   * degenerate zero denominator) emit NULL slope/intercept instead of
   * dividing by zero.
   *
   * @return per source: (source, vocab, total_tokens, n_buckets,
   *         slope_milli, intercept_milli)
   */
  def zipfSlope(
      docs: DataFrame,
      sourceCol: String = "source",
      textCol: String = "text"): DataFrame = {
    // feeds the rank scan AND the per-source totals
    val tf = docs
      .select(col(sourceCol).cast(StringType).as("src"),
        explode(TF.tokens(col(textCol))).as("w"))
      .groupBy("src", "w").agg(count(lit(1)).as("f"))
      .transform(Scoped.pinned)
    // descending-frequency rank = ascending (-f, w) under the prefix
    // scan (f >= 1, so -f never overflows)
    val pts = GroupedScan.prefixScan(
        tf.withColumn("negf", -col("f")), Seq("src"), Seq("negf", "w"), "f")
      .withColumn("r", col("__rnk"))
      .select(col("src"),
        (length(bin(col("r"))) - 1).cast(LongType).as("x"),
        (length(bin(col("f"))) - 1).cast(LongType).as("y"))
      .groupBy("src", "x")
      .agg(expr("sum(y) * 1000L div count(1)").as("ym"))
    val reg = pts.groupBy("src").agg(
      count(lit(1)).as("nb"),
      sum("x").as("sx"), sum("ym").as("sy"),
      sum(expr("x * ym")).as("sxy"), sum(expr("x * x")).as("sxx"))
    val totals = tf.groupBy("src")
      .agg(count(lit(1)).as("vocab"), sum("f").as("total_tokens"))
    totals.join(reg, Seq("src"))
      .withColumn("__den", expr("nb * sxx - sx * sx"))
      .select(col("src").as(sourceCol), col("vocab"), col("total_tokens"),
        col("nb").as("n_buckets"),
        expr("CASE WHEN nb >= 2 AND __den <> 0 " +
          "THEN (nb * sxy - sx * sy) div __den ELSE NULL END").as("slope_milli"),
        expr("CASE WHEN nb >= 2 AND __den <> 0 " +
          "THEN (sy - ((nb * sxy - sx * sy) div __den) * sx) div nb " +
          "ELSE NULL END").as("intercept_milli"))
      .orderBy(sourceCol)
  }
}
