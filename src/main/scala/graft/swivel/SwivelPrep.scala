package graft.swivel

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Swivel embedding-prep pipeline, re-expressed relationally
  * (SURVEY.md §2.6; semantics follow the published Swivel prep algorithm —
  * arXiv:1602.02215 §2 and its prep.py/fastprep companions; the reference
  * repo `src-d/swivel-spark-prep` distributes exactly this computation on
  * Spark).
  *
  * Pipeline: tokenize → frequency-ranked truncated vocab → windowed
  * 1/d-weighted symmetric co-occurrence counts → marginals → fixed-size
  * shard assignment. All stages are DataFrame→DataFrame and composable;
  * the gated queries bind windowSize=10, minCount=5, shardSize=8.
  *
  * Determinism: co-occurrence weights are Σ_d n_d/d — the per-distance
  * counts n_d are exact integers and the ≤windowSize-term division chain
  * is evaluated in a fixed left-to-right order, so the resulting double is
  * identical under ANY partitioning/aggregation order (no double-sum
  * nondeterminism), in Spark and in the DuckDB oracle alike.
  *
  * Scale posture (100 TB corpus): one row is one document, as one line
  * is in `fastprep` — a document split across rows loses its
  * cross-row pairs (`Sources.textCorpus` reads one line per row, and a
  * parquet `documents` table holds one row per doc_id). Vocab counting
  * and pair generation are row-local; the vocab is the only global
  * structure, bounded by truncation, collected once and broadcast as a
  * token → id map. There is no self-join and no AQE skew-join: the first
  * shuffle is the cell groupBy on (row_id, col_id), whose map-side partial
  * aggregation collapses a hot (Zipfian) cell to one row per task before
  * the exchange, and whose key spreads a hot row across its column
  * partners (`coocSalted` adds a salt for still heavier skew); marginals,
  * PMI and shards are derivations of that one cell relation and sharding
  * is a pure projection.
  */
object SwivelPrep {

  /** (doc_id, pos, token) — whitespace split, 1-based position. */
  def tokenize(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"), col("col").as("token"))

  /** Frequency-ranked vocabulary: keep count ≥ minCount, rank by
    * (count DESC, token ASC), truncate to the largest multiple of
    * shardSize; ids dense in [0, vocabSize).
    *
    * Ranking is a distributed range-partitioned sort + zipWithIndex — a
    * deliberate RDD drop-down: a global `row_number()` window would pull
    * every surviving token into ONE partition, which dies at 100 TB corpus
    * scale (10⁷–10⁸ distinct tokens pre-truncation), while zipWithIndex
    * assigns the identical dense ranks from per-partition offsets. Output
    * ids are byte-identical to the window formulation ((count DESC,
    * token ASC) is a total order).
    */
  /** Unsigned lexicographic byte order — the order Spark SQL's UTF8String
    * and DuckDB's VARCHAR comparisons both use. JVM String.compareTo
    * (UTF-16 code units) diverges from it for supplementary-plane text
    * (emoji sort before U+E000–U+FFFF in UTF-16 but after in UTF-8), so
    * the rank tie-break must compare UTF-8 bytes to match the oracle. */
  private implicit val utf8Ord: Ordering[Array[Byte]] = (a, b) => {
    var i = 0
    var res = 0
    val n = math.min(a.length, b.length)
    while (res == 0 && i < n) {
      res = (a(i) & 0xff) - (b(i) & 0xff)
      i += 1
    }
    if (res != 0) res else a.length - b.length
  }

  def buildVocab(docs: DataFrame, minCount: Int, shardSize: Int): DataFrame = {
    require(shardSize >= 1, s"shardSize must be >= 1, got $shardSize")
    val spark = docs.sparkSession
    import spark.implicits._
    // The token-count relation has three consumers (the truncation count,
    // the sortBy sample pass, the sort shuffle): persist it so the corpus
    // is tokenized exactly ONCE — at 100 TB each extra evaluation is a
    // full corpus scan. The returned vocab is materialized with an eager
    // localCheckpoint (bounded by truncation — the same structure the
    // reference writes out as a vocab file), so the counts cache can be
    // released before returning: no unbounded storage blocks outlive the
    // call, and the caller's DataFrame never re-executes the corpus scan.
    val counts = tokenize(docs).groupBy("token").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      .persist()
    try {
      val total = counts.count()
      val keep = (total / shardSize) * shardSize
      counts.select(col("token"), col("cnt")).as[(String, Long)].rdd
        .sortBy({ case (t, c) =>
          (-c, t.getBytes(java.nio.charset.StandardCharsets.UTF_8)) })
        .zipWithIndex()
        .collect { case ((t, c), i) if i < keep => (i, t, c) }
        .toDF("id", "token", "cnt")
        .localCheckpoint()
    } finally counts.unpersist(blocking = false)
  }

  /** Ordered in-window pairs with distance: for every in-vocab token pair
    * in the same document with 0 < d = pos_b − pos_a ≤ windowSize, BOTH
    * orientations (the matrix is symmetric; a self-pair (t,t,d) therefore
    * contributes twice to cell (t,t)).
    * Output: (row_id, col_id, dd).
    *
    * A row-local window generator, as `fastprep` slides its window over
    * one line: each row is split with `tokenize`'s semantics (Java
    * `split(" ", -1)`: empty tokens kept, "" is one empty token; a null
    * text emits nothing), tokens map to ids through the broadcast vocab,
    * and out-of-vocab positions are skipped — distances stay measured on
    * the original positions, but pairs only form between in-vocab tokens.
    * No doc_id is read and nothing shuffles before the caller's groupBy;
    * the row is the document.
    */
  def coocPairs(docs: DataFrame, vocab: DataFrame, windowSize: Int): DataFrame = {
    require(windowSize >= 1, s"windowSize must be >= 1, got $windowSize")
    val spark = docs.sparkSession
    import spark.implicits._
    // bounded by truncation — the same structure the reference writes out
    // as its vocab file and loads whole into every worker
    val ids = new java.util.HashMap[String, java.lang.Long]()
    vocab.select(col("token"), col("id")).as[(String, Long)].collect()
      .foreach { case (t, i) => ids.put(t, i) }
    val idsB = spark.sparkContext.broadcast(ids)
    docs.select(col("text")).as[String].flatMap { text =>
      if (text == null) Iterator.empty
      else {
        val m = idsB.value
        val tok = text.split(" ", -1).map(m.get)
        for {
          i <- Iterator.range(0, tok.length) if tok(i) != null
          j <- Iterator.range(i + 1, math.min(i + windowSize, tok.length - 1) + 1)
          if tok(j) != null
          (x, y) <- Iterator((tok(i), tok(j)), (tok(j), tok(i)))
        } yield (x.longValue, y.longValue, j - i)
      }
    }.toDF("row_id", "col_id", "dd")
  }

  /** Exact integer per-distance counts n_1..n_W of `pairs`' `dd` per
    * `keys` group. */
  private def distanceCounts(pairs: DataFrame, windowSize: Int, keys: Column*): DataFrame = {
    val n = (1 to windowSize).map(k => sum(when(col("dd") === k, 1L).otherwise(0L)).as(s"n$k"))
    pairs.groupBy(keys: _*).agg(n.head, n.tail: _*)
  }

  /** Merge n_1..n_W count columns per `keys` group — exact integer sums,
    * so every merge order yields the same counts. */
  private def mergeCounts(counts: DataFrame, windowSize: Int, keys: Column*): DataFrame = {
    val n = (1 to windowSize).map(k => sum(col(s"n$k")).as(s"n$k"))
    counts.groupBy(keys: _*).agg(n.head, n.tail: _*)
  }

  /** The one cell relation every downstream output derives from:
    * (row_id, col_id, n1..nW), the exact integer count of in-window
    * co-occurrences of the cell at each distance, in one groupBy over
    * `coocPairs`. */
  def cellCounts(docs: DataFrame, vocab: DataFrame, windowSize: Int): DataFrame =
    distanceCounts(coocPairs(docs, vocab, windowSize), windowSize, col("row_id"), col("col_id"))

  /** Fixed-order Σ_d n_d/d over the per-distance count columns — see the
    * determinism note in the object scaladoc. */
  private def weightExpr(windowSize: Int): Column =
    (1 to windowSize).map(k => col(s"n$k") / lit(k.toDouble)).reduceLeft(_ + _)

  /** Cells of a `cellCounts` relation: (row_id, col_id, weight) with
    * weight = Σ 1/d over all in-window co-occurrences, rounded 4dp. */
  def cellWeights(counts: DataFrame, windowSize: Int): DataFrame =
    counts.select(col("row_id"), col("col_id"), round(weightExpr(windowSize), 4).as("weight"))

  /** Row sums of a `cellCounts` relation: (id, marginal). The n_d sum per
    * row first — exact integers, the `coocSalted` merge — so the one
    * fixed-order weight chain then runs over the UNROUNDED row totals. */
  def rowSums(counts: DataFrame, windowSize: Int): DataFrame =
    mergeCounts(counts, windowSize, col("row_id").as("id"))
      .select(col("id"), round(weightExpr(windowSize), 4).as("marginal"))

  /** Co-occurrence cells: (row_id, col_id, weight) with weight = Σ 1/d
    * over all in-window co-occurrences, rounded 4dp at the boundary. */
  def cooc(docs: DataFrame, vocab: DataFrame, windowSize: Int): DataFrame =
    cellWeights(cellCounts(docs, vocab, windowSize), windowSize)

  /** Skew-hardened variant: Zipfian corpora make the hot tokens' cells
    * (e.g. (the,the)) receive a large share of all pairs, so a single
    * reducer per hot cell can bottleneck even with AQE skew handling.
    * Two-level aggregation: salt the groupBy key with a per-row bucket,
    * partially count per (cell, salt), then merge the integer n_d counts —
    * exact integer sums, so the final fixed-order weight is bit-identical
    * to `cooc`. Salting costs one extra (tiny, cell-level) shuffle; use
    * when the corpus is known to be heavily skewed.
    */
  def coocSalted(docs: DataFrame, vocab: DataFrame, windowSize: Int,
      saltBuckets: Int = 64): DataFrame = {
    val salted = coocPairs(docs, vocab, windowSize)
      .withColumn("salt", pmod(hash(col("row_id"), col("col_id"), monotonically_increasing_id()), lit(saltBuckets)))
    val partials = distanceCounts(salted, windowSize, col("row_id"), col("col_id"), col("salt"))
    cellWeights(mergeCounts(partials, windowSize, col("row_id"), col("col_id")), windowSize)
  }

  /** Positive-PMI report over the co-occurrence matrix — the quantity
    * Swivel's training objective approximates, surfaced as a gated
    * relation with EVERY step exact: the Σ n_d/d cell weight is rescaled
    * by LCM(1..windowSize) into an exact integer (n_d · (L/d) term sums
    * — no double ever forms), marginals and the matrix total are integer
    * sums of those, and the PMI ratio x_ij·T / (x_i·x_j) is carried in
    * micro-units through a DECIMAL(38,0) product with an integral `div`
    * (the 128-bit-safe path: x_ij·T·10⁶ overflows BIGINT on hub cells).
    * log() never runs — monotone in the ratio, so ranking by ratio IS
    * ranking by PMI and the emitted integer is engine-identical.
    *
    * Scale: one cell groupBy (`cellCounts`), a vocab-bounded marginal
    * groupBy broadcast into two joins onto the cell relation, the total
    * as a scalar subquery over the marginals, top-k per-partition heaps. */
  def pmiCells(docs: DataFrame, vocab: DataFrame, windowSize: Int,
      minScaled: Long, topK: Int): DataFrame = {
    val lcm = (1 to windowSize).foldLeft(1L)((a, k) =>
      a * k / BigInt(a).gcd(BigInt(k)).toLong)
    val scaled = (1 to windowSize).map(k => col(s"n$k") * lit(lcm / k)).reduceLeft(_ + _)
    val cells = cellCounts(docs, vocab, windowSize)
      .select(col("row_id"), col("col_id"), scaled.as("sw"))
    val marg = broadcast(cells.groupBy("row_id").agg(sum(col("sw")).as("smi")))
    cells
      .join(marg, "row_id")
      .join(marg.select(col("row_id").as("col_id"), col("smi").as("smj")),
        "col_id")
      .filter(col("sw") >= minScaled)
      .withColumn("st", marg.agg(sum(col("smi"))).scalar())
      .select(col("row_id"), col("col_id"), col("sw"),
        expr("CAST(sw AS DECIMAL(38,0)) * CAST(st AS DECIMAL(38,0)) * 1000000" +
          " div (CAST(smi AS DECIMAL(38,0)) * CAST(smj AS DECIMAL(38,0)))")
          .as("ratio_ppm"))
      .orderBy(col("ratio_ppm").desc, col("row_id"), col("col_id"))
      .limit(topK)
  }

  /** Row sums of the (symmetric) co-occurrence matrix per token id —
    * `rowSums` over `cellCounts`, so marginals sum the UNROUNDED cell
    * weights. */
  def marginals(docs: DataFrame, vocab: DataFrame, windowSize: Int): DataFrame =
    rowSums(cellCounts(docs, vocab, windowSize), windowSize)

  /** Shard assignment: row_shard = id % numShards, local index
    * id / numShards, with numShards = vocabSize / shardSize (vocabSize is
    * a multiple of shardSize by construction). The 1-row numShards scalar
    * broadcasts. */
  def shard(coocCells: DataFrame, vocab: DataFrame, shardSize: Int): DataFrame = {
    val ns = vocab.agg((count(lit(1)) / shardSize).cast("long").as("num_shards"))
    coocCells.crossJoin(broadcast(ns))
      .select(
        (col("row_id") % col("num_shards")).as("row_shard"),
        (col("col_id") % col("num_shards")).as("col_shard"),
        expr("row_id div num_shards").as("local_row"),
        expr("col_id div num_shards").as("local_col"),
        col("row_id").as("global_row"),
        col("col_id").as("global_col"),
        col("weight"))
  }
}
