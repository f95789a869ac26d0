package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column ([X] tier): brute-force
  * cosine top-k as the correctness baseline, IVF (coarse-quantizer
  * partition) and random-projection LSH as the scale paths.
  *
  * Vector math is done with `zip_with`/`aggregate` higher-order functions
  * over `array<double>` — codegen-friendly, no UDF. Embeddings are cast
  * float→double once up front so results are deterministic and
  * oracle-comparable.
  *
  * Scale shape: brute force is one broadcast (the query vector) + a
  * map-side score + TakeOrderedAndProject — a single pass, no shuffle; it's
  * the 1-query × N-rows case. The quadratic danger is *pairwise* search,
  * which [[nearDupPairsWithinLabel]] confines to coarse buckets (IVF cells)
  * — never a global cross join.
  */
object SimilarityOps {

  /** embedding column cast to array<double>. r17: a plain array CAST,
    * not `transform(c, x -> cast(x as double))` — Cast over ArrayType
    * is a codegen'd expression while the transform form pays an
    * interpreted per-element lambda frame; element values are the
    * identical float→double widening either way. */
  private[graft] def vecD(c: String): Column =
    expr(s"cast($c as array<double>)")

  private[graft] def dot(a: String, b: String): Column =
    expr(s"aggregate(zip_with($a, $b, (x, y) -> x * y), 0D, (acc, v) -> acc + v)")

  /** ||a|| — r17: phrased as the self-dot `zip_with(a, a, *)` fold, NOT
    * `aggregate(transform(a, x -> x*x), ...)`: the zip_with form is the
    * exact idiom [[graft.functions.NativeVectorMathRule]] rewrites to
    * the fused native [[graft.functions.DotProduct]], so every norm in
    * the similarity hot loops runs codegen'd instead of as interpreted
    * lambda frames. Bit-exact: same left fold over the same per-element
    * products (x·x ≡ x·y at x = y). */
  private[graft] def norm(a: String): Column =
    expr(s"sqrt(aggregate(zip_with($a, $a, (x, y) -> x * y), 0D, (acc, v) -> acc + v))")

  /** Brute-force cosine top-k against the vector of `queryId`. */
  def bruteForceTopK(embeddings: DataFrame, queryId: Long, k: Int): DataFrame = {
    val base = embeddings.select(col("vec_id"), vecD("embedding").as("v"))
    val q = base.filter(col("vec_id") === queryId)
      .select(col("v").as("qv"))
    base.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(dot("v", "qv") / (norm("v") * norm("qv")), 6).as("cosine"))
      .orderBy(desc("cosine"), asc("vec_id"))
      .limit(k)
  }

  /** Brute-force top-k on the native codegen'd [[graft.functions.CosineSimilarity]]
    * expression — single fused loop per row (dot + both norms), no
    * intermediate arrays; semantically identical to [[bruteForceTopK]]. */
  def bruteForceTopKNative(embeddings: DataFrame, queryId: Long, k: Int): DataFrame = {
    graft.functions.GraftExtensions.register(embeddings.sparkSession)
    val base = embeddings.select(col("vec_id"), vecD("embedding").as("v"))
    val q = base.filter(col("vec_id") === queryId).select(col("v").as("qv"))
    base.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(graft.functions.CosineSimilarity(col("v"), col("qv")), 6).as("cosine"))
      .orderBy(desc("cosine"), asc("vec_id"))
      .limit(k)
  }

  /** BATCHED brute-force ANN: top-k for MANY query vectors in ONE plan —
    * the actual serving shape (per-query driver loops rescan the corpus Q
    * times). The Q query vectors broadcast (Q·d doubles), the corpus is
    * scanned ONCE, and the per-query top-k folds through the bounded-heap
    * [[graft.functions.TopKAggregator]] with map-side partial aggregation:
    * the shuffle carries at most Q·k candidates per task, never the Q·N
    * scored matrix (contrast a `row_number` window, which shuffles and
    * sorts all Q·N scores). Output: (query_id, rank-ordered id list). */
  def bruteForceTopKBatch(embeddings: DataFrame, queryIds: Seq[Long],
                          k: Int): DataFrame = {
    import org.apache.spark.sql.Encoders
    val base = embeddings.select(col("vec_id"), vecD("embedding").as("v"))
    val qs = base.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val topk = udaf(new graft.functions.TopKAggregator(k),
                    Encoders.product[graft.functions.TopKItem])
    base.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"),
        round(dot("v", "qv") / (norm("v") * norm("qv")), 6).as("cosine"),
        col("vec_id"))
      .groupBy("query_id")
      .agg(topk(col("cosine"), col("vec_id")).as("top_ids"))
  }

  /** Element-wise mean centroid per cell with BOUNDED aggregation state.
    * Each component is scaled to a fixed-point long (2^24 — float32's full
    * significand width, so the scaled values stay exact integers for any
    * |x| < 128) and summed per (cell, dim): integer addition is exact and
    * order-INsensitive, so the centroid is hash-deterministic under any
    * shuffle fetch order with no ordered fold needed. The d-element vector
    * is reassembled with a d-bounded collect (64 structs — constant).
    *
    * Contrast the collect_list(struct(vec_id, v))-then-sorted-fold form
    * this replaces: its per-group buffer was O(|cell|·d), so one hot cell
    * OOMs the aggregation buffer at 100 TB. Here every buffer is O(1) per
    * (cell, dim) and O(d) per cell. Long headroom: |Σ xq| < 2^63 holds for
    * cells up to ~5·10^12 members at |x| ≤ 64. */
  private[graft] def centroidsOf(assigned: DataFrame, cellCol: String): DataFrame =
    assigned
      .select(col(cellCol).as("cell"),
        posexplode(expr("transform(v, x -> cast(round(x * 16777216.0) as bigint))"))
          .as(Seq("j", "xq")))
      .groupBy("cell", "j")
      .agg(sum("xq").as("sq"), count(lit(1)).as("n"))
      .groupBy("cell")
      .agg(expr("transform(array_sort(collect_list(struct(j, sq, n))), s -> (cast(s.sq as double) / 16777216.0) / s.n)")
        .as("cv"))

  /** IVF-style search: compute real centroids per coarse cell (here the
    * `label` column plays the k-means assignment), pick the `nprobe`
    * nearest cells to the query, and scan only those cells. At 100 TB the
    * cell scan is a partition-pruned read when the table is written
    * partitioned by cell id. */
  def ivfTopK(embeddings: DataFrame, queryId: Long, k: Int, nprobe: Int): DataFrame = {
    val base = embeddings.select(col("vec_id"), col("label"),
      vecD("embedding").as("v"))
    val q = base.filter(col("vec_id") === queryId).select(col("v").as("qv"))

    val cents = centroidsOf(base, "label")
      .select(col("cell").as("label"), col("cv"))

    val probed = cents.crossJoin(broadcast(q))
      .select(col("label"),
        (dot("cv", "qv") / (norm("cv") * norm("qv"))).as("ccos"))
      .orderBy(desc("ccos"), asc("label"))
      .limit(nprobe)
      .select("label")

    base.join(broadcast(probed), "label")
      .filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(dot("v", "qv") / (norm("v") * norm("qv")), 6).as("cosine"))
      .orderBy(desc("cosine"), asc("vec_id"))
      .limit(k)
  }

  /** [[ivfTopK]] executed against the partition-pruned layout the IVF
    * docstring promises: the corpus is written Hive-partitioned by cell id
    * ([[graft.ops.Storage.partitionedRoundTrip]] — one directory per
    * cell), the probe picks the `nprobe` nearest cells (bounded driver
    * collect — nprobe ids, same k-bounded discipline as the Lloyd
    * centroids), and the scan reads ONLY those cell directories: the
    * filter resolves against the partition LISTING (`PartitionFilters` in
    * the scan node, asserted by spec), zero bytes from unprobed cells.
    * At 100 TB this is the difference between scanning nprobe/k of the
    * corpus and scanning all of it. Semantically identical to
    * [[ivfTopK]]; same oracle. */
  def ivfTopKPruned(embeddings: DataFrame, queryId: Long, k: Int,
                    nprobe: Int): DataFrame = {
    val spark = embeddings.sparkSession
    val base = embeddings.select(col("vec_id"), col("label"),
      vecD("embedding").as("v"))
    val q = base.filter(col("vec_id") === queryId).select(col("v").as("qv"))
    val cents = centroidsOf(base, "label")
      .select(col("cell").as("label"), col("cv"))
    val probed = cents.crossJoin(broadcast(q))
      .select(col("label"),
        (dot("cv", "qv") / (norm("cv") * norm("qv"))).as("ccos"))
      .orderBy(desc("ccos"), asc("label"))
      .limit(nprobe)
      .select("label")
      .collect().map(_.getInt(0))

    val dir = graft.ops.Storage.partitionedRoundTrip(embeddings, "label")
    spark.read.parquet(dir)
      .filter(col("label").isin(probed.map(Integer.valueOf): _*))
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), vecD("embedding").as("v"))
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(dot("v", "qv") / (norm("v") * norm("qv")), 6).as("cosine"))
      .orderBy(desc("cosine"), asc("vec_id"))
      .limit(k)
  }

  /** BATCHED IVF probe: top-k for MANY query vectors through ONE
    * partition-pruned corpus scan — [[bruteForceTopKBatch]]'s serving
    * shape crossed with [[ivfTopKPruned]]'s layout. Per query, the
    * `nprobe` nearest cells by centroid cosine are ranked in one window
    * over the Q×cells centroid scores (tiny — cells·d doubles). The
    * driver collects only the Q·nprobe (query, cell) probe pairs (bounded,
    * independent of N — the same discipline as [[ivfTopKPruned]]); their
    * cell UNION prunes the scan to the probed directories
    * (`PartitionFilters`, asserted by spec), and the pair table broadcasts
    * back as the per-query gate: a scanned row scores only against the
    * queries that probed its cell (equi-join on cell, never Q×scan).
    * Per-query top-k folds through the bounded-heap
    * [[graft.functions.TopKAggregator]] with map-side combine, so the
    * shuffle carries ≤ Q·k candidates per task. At 100 TB: Q queries
    * served by ONE scan of ~nprobe/k of the corpus. */
  def ivfTopKBatchPruned(embeddings: DataFrame, queryIds: Seq[Long], k: Int,
                         nprobe: Int): DataFrame = {
    import org.apache.spark.sql.Encoders
    val spark = embeddings.sparkSession
    val base = embeddings.select(col("vec_id"), col("label"),
      vecD("embedding").as("v"))
    val qs = base.filter(col("vec_id").isin(queryIds.map(Long.box): _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val cents = centroidsOf(base, "label")
      .select(col("cell").as("label"), col("cv"))

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(desc("ccos"), asc("label"))
    val probePairs = cents.crossJoin(broadcast(qs))
      .select(col("query_id"), col("label"),
        (dot("cv", "qv") / (norm("cv") * norm("qv"))).as("ccos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= nprobe)
      .select("query_id", "label")
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    val unionCells = probePairs.map(_._2).distinct.toSeq

    val dir = graft.ops.Storage.partitionedRoundTrip(embeddings, "label")
    val probeDf = spark.createDataFrame(probePairs.toSeq)
      .toDF("query_id", "label")
    val topk = udaf(new graft.functions.TopKAggregator(k),
                    Encoders.product[graft.functions.TopKItem])
    spark.read.parquet(dir)
      .filter(col("label").isin(unionCells.map(Integer.valueOf): _*))
      .select(col("vec_id"), col("label"), vecD("embedding").as("v"))
      .join(broadcast(probeDf), "label")
      .join(broadcast(qs), "query_id")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"),
        round(dot("v", "qv") / (norm("v") * norm("qv")), 6).as("cosine"),
        col("vec_id"))
      .groupBy("query_id")
      .agg(topk(col("cosine"), col("vec_id")).as("top_ids"))
  }

  /** Lloyd-iteration refinement of the IVF coarse quantizer: start from the
    * label-cell means and run `iters` assign/recompute rounds (cosine
    * assignment). Deterministic — initialization is data-derived, no RNG.
    *
    * Scale shape: the k centroids (k·d doubles — bounded, independent of N)
    * are collected to the driver each round and shipped back as ONE
    * broadcast row (a single array-of-structs column cross-joined onto the
    * corpus — a BroadcastNestedLoopJoin over one row: narrow, zero
    * shuffle), so the ASSIGNMENT is a pure map-side argmax projection with
    * no N×k intermediate. Feeding the centroids through a COLUMN instead
    * of a `typedLit` keeps the expression tree identical across rounds —
    * the generated class is Janino-cached after round one, where the
    * literal form re-compiled a class inlining k·d doubles every round (a
    * driver-side bottleneck at k in the thousands; the k=500 spec pins
    * bounded multi-round time). The argmax loop itself is the native
    * fused [[graft.functions.CentroidArgmax]]. The only shuffles per
    * iteration are the centroid RECOMPUTE groupBys ([[centroidsOf]]),
    * whose map-side partial aggregation ships k·d bounded partial sums
    * per task. Returns (vec_id, cell). */
  def kmeansCells(embeddings: DataFrame, iters: Int): DataFrame = {
    val spark = embeddings.sparkSession
    graft.functions.GraftExtensions.register(spark)
    val base = embeddings.select(col("vec_id"), col("label"),
      vecD("embedding").as("v"))

    /** Assignment as a map-side projection: argmax dot over the broadcast
      * centroid row. Centroids are pre-sorted by cell id and compared
      * with strict `>`, so ties go to the smaller cell id (same tie-break
      * as the windowed `ORDER BY d DESC, cell ASC` oracle). Norms are
      * pre-divided out at the driver: maximizing dot(v, cv)/(|v|·|cv|)
      * over cells is independent of |v|, so each centroid is pre-scaled
      * to unit length and the inner loop is a plain dot product. */
    def assign(cents: Array[(Long, Array[Double])]): DataFrame = {
      val unit = cents.sortBy(_._1).map { case (cell, cv) =>
        val n = math.sqrt(cv.map(x => x * x).sum)
        (cell, cv.map(_ / n).toSeq)
      }.toSeq
      val centsRow = spark.createDataFrame(Seq(Tuple1(unit))).toDF("cents")
      base
        .crossJoin(broadcast(centsRow))
        .select(col("vec_id"), col("v"),
          call_function("centroid_argmax", col("v"), col("cents")).as("cell"))
    }

    var assigned = base.withColumn("cell", col("label").cast("long"))
      .select(col("vec_id"), col("v"), col("cell"))
    (1 to iters).foreach { _ =>
      val cents = centroidsOf(assigned, "cell").collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      assigned = assign(cents)
    }
    assigned.select("vec_id", "cell")
  }

  /** Symmetric int8 quantization of the embedding column — the standard
    * storage/serving compression for vector corpora (4× smaller than
    * float32, 8× than float64): per-vector scale = 127 / max|x|, codes =
    * round(x·scale). Emitted as (scale, comma-joined codes) so the result
    * is parquet- and oracle-stable. Pure column math, no shuffle. */
  def quantizeInt8(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"), vecD("embedding").as("v"))
      .withColumn("ma", expr("array_max(transform(v, x -> abs(x)))"))
      .select(col("vec_id"),
        round(lit(127.0) / col("ma"), 6).as("scale"),
        expr("concat_ws(',', transform(v, x -> cast(round(x * (127.0 / ma)) as int)))")
          .as("q8"))

  /** PRODUCT QUANTIZATION (Jégou/Douze/Schmid, public literature), the
    * third serving-compression leg beside IVF (partition pruning) and
    * int8 (scalar quantization): the d-dim vector splits into `m`
    * subvectors, each encoded as the id of its nearest per-subspace
    * codeword, so a vector stores as m small codes (here 8 bytes vs 256
    * for float32 — 32×) and query scoring never touches the raw vector.
    *
    * Codebooks are DERIVED, not trained with RNG: the per-label 64-d
    * cell centroids ([[centroidsOf]] — fixed-point exact, so both
    * engines hold bit-identical codebooks) sliced per subspace; the mean
    * of a slice is the slice of the mean, so this is exactly per-subspace
    * k-means initialized at the label clustering, zero iterations —
    * deterministic and fully replayable in SQL.
    *
    * Scale shape: codebooks are a bounded driver collect (cells·d
    * doubles); ENCODE is a pure map over the corpus (argmin of `cells`
    * 8-dim L2s per subspace — no shuffle, no N×k frame); ADC serving
    * precomputes the m·cells lookup table of query-subvector·codeword
    * dot products ON THE DRIVER (bounded) and scores each row by m map
    * lookups + adds — the entire point of PQ at 100 TB: the scan reads
    * codes, not vectors, and does no per-row float math beyond m adds. */
  /** One codebook build per (session, input plan, m) — the family's
    * three entry points (and rerank's nesting) otherwise repeat the
    * corpus-wide centroid aggregation + driver collect and the pool
    * count() on every call. */
  private def pqCodesAndBooks(embeddings: DataFrame, m: Int)
      : (DataFrame, Array[(Long, Array[Double])], Int, Long) =
    graft.SessionMemo(embeddings.sparkSession, "SimilarityOps.pqCodebooks",
        (graft.SessionMemo.planOf(embeddings), m)) {
      pqCodesAndBooksUncached(embeddings, m)
    }

  private def pqCodesAndBooksUncached(embeddings: DataFrame, m: Int)
      : (DataFrame, Array[(Long, Array[Double])], Int, Long) = {
    val base = embeddings.select(col("vec_id"),
      col("label").cast("long").as("cell"), vecD("embedding").as("v"))
    val cents = centroidsOf(base, "cell").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    val d = cents.head._2.length
    require(d % m == 0, s"d=$d not divisible by m=$m")
    val sub = d / m
    // cb[s] = per-subspace codebook: (cell id, sub-dim codeword)
    val cb: Seq[Seq[(Long, Seq[Double])]] = (0 until m).map(s =>
      cents.toSeq.map { case (c, cv) =>
        (c, cv.slice(s * sub, (s + 1) * sub).toSeq)
      })
    // argmin-by-L2 per subspace via sort on (distance, cell): strict
    // ascending struct order ties to the SMALLER cell id — the same
    // tie-break as the oracle's ORDER BY d ASC, cell ASC window.
    // Codebooks arrive through a broadcast one-row COLUMN, not a
    // typedlit: a literal would inline m·cells·d doubles into the
    // expression tree, making every call (and every scale factor) a
    // fresh multi-second Janino compile — the kmeansCells lesson; the
    // column form keeps the tree constant, so the generated class is
    // compiled once and cached across the whole PQ family
    val spark = embeddings.sparkSession
    val cbRow = spark.createDataFrame(Seq(Tuple1(cb))).toDF("cb")
    val codes = base
      .crossJoin(broadcast(cbRow))
      .withColumn("codes", expr(
        s"""transform(sequence(0, ${m - 1}), s ->
              element_at(array_sort(transform(element_at(cb, s + 1), c ->
                named_struct(
                  'd', aggregate(zip_with(slice(v, s * $sub + 1, $sub), c._2,
                         (x, y) -> (x - y) * (x - y)), 0D, (a, b) -> a + b),
                  'cell', c._1))), 1).cell)"""))
      .select(col("vec_id"), col("v"), col("codes"))
    (codes, cents, sub, embeddings.count())
  }

  /** ADC top-k: rank the corpus by the asymmetric-distance-computation
    * score (Σ over subspaces of query-subvector · codeword-of-code —
    * the PQ approximation of the exact dot product) and return
    * (vec_id, adc_score). Oracle replays codebooks, codes, LUT, and the
    * ranking exactly. */
  def pqAdcTopK(embeddings: DataFrame, queryId: Long, k: Int,
                m: Int = 8): DataFrame = {
    val (codes, cents, sub, _) = pqCodesAndBooks(embeddings, m)
    val spark = embeddings.sparkSession
    val qv = codes.filter(col("vec_id") === queryId)
      .select("v").head().getSeq[Double](0).toArray
    // the ADC lookup table: lut[s][cell] = dot(q_s, codeword(s, cell)) —
    // m·cells doubles, computed once on the driver (left-to-right fold,
    // the same order as the oracle's list_sum)
    val lut: Seq[Map[Long, Double]] = (0 until m).map(s =>
      cents.map { case (c, cv) =>
        c -> (0 until sub).map(i => qv(s * sub + i) * cv(s * sub + i)).sum
      }.toMap)
    // LUT through a broadcast one-row column for the same
    // compile-once reason as the codebooks above
    val lutRow = spark.createDataFrame(Seq(Tuple1(lut))).toDF("lut")
    codes.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(lutRow))
      .select(col("vec_id"),
        round(expr(
          s"""aggregate(sequence(0, ${m - 1}), 0D, (a, s) ->
                a + element_at(element_at(lut, s + 1),
                               element_at(codes, s + 1)))"""), 6)
          .as("adc_score"))
      .orderBy(desc("adc_score"), asc("vec_id"))
      .limit(k)
  }

  /** Two-stage PQ serving, the production shape ([[int8RerankTopK]]'s
    * sibling): the ADC scan keeps a `pool`-sized candidate set (reading
    * codes only — 32× less bandwidth than float32), then the exact dot
    * product re-ranks the pool and returns the top-`k`. The
    * full-precision table is touched for `pool` rows, not N. Raw ADC at
    * 10 codewords/subspace is deliberately coarse (measured 3/10 recall
    * at sf0.01, 1/10 at sf0.1) — the pool+re-rank stage is what turns a
    * coarse cheap scan into a usable answer, which is exactly the
    * PQ-in-practice story. */
  def pqRerankTopK(embeddings: DataFrame, queryId: Long, k: Int,
                   poolDiv: Int = 10, m: Int = 8): DataFrame = {
    // pool sized to the corpus (N/poolDiv, floor k): a fixed pool stops
    // covering the exact top-k as N grows; the fraction is the knob a
    // deployment tunes against its recall target. N comes from the
    // memoized codebook build (one bounded count per session+input).
    val pool = math.max(k, (pqCodesAndBooks(embeddings, m)._4 / poolDiv).toInt)
    val adcPool = pqAdcTopK(embeddings, queryId, pool, m).select("vec_id")
    val base = embeddings.select(col("vec_id"), vecD("embedding").as("v"))
    val q = base.filter(col("vec_id") === queryId).select(col("v").as("qv"))
    base.join(broadcast(adcPool), "vec_id")
      .crossJoin(broadcast(q))
      .select(col("vec_id"), round(dot("v", "qv"), 6).as("dp"))
      .orderBy(desc("dp"), asc("vec_id"))
      .limit(k)
  }

  /** PQ approximation quality, graded like [[int8TopKRecall]]: hits of
    * the RERANKED top-k ([[pqRerankTopK]]) against the EXACT-DOT top-k
    * truth (ADC approximates the dot product, so dot — not cosine — is
    * the apples-to-apples truth side) plus an honest-floor verdict.
    * Oracle recomputes both sides from the raw embeddings. */
  def pqRecall(embeddings: DataFrame, queryId: Long, k: Int,
               minHits: Int, poolDiv: Int = 10, m: Int = 8): DataFrame = {
    val base = embeddings.select(col("vec_id"), vecD("embedding").as("v"))
    val q = base.filter(col("vec_id") === queryId).select(col("v").as("qv"))
    val truth = base.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), round(dot("v", "qv"), 6).as("dp"))
      .orderBy(desc("dp"), asc("vec_id"))
      .limit(k)
      .select("vec_id")
    pqRerankTopK(embeddings, queryId, k, poolDiv, m).select("vec_id")
      .join(truth, "vec_id")
      .agg(count(lit(1)).as("n_hits"))
      .select(col("n_hits"), (col("n_hits") >= lit(minHits.toLong)).as("recall_ok"))
  }

  /** The int8 code vectors of [[quantizeInt8]] as an array column —
    * the form a serving index actually scans. */
  private def int8CodeVecs(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"), vecD("embedding").as("v"))
      .withColumn("ma", expr("array_max(transform(v, x -> abs(x)))"))
      .select(col("vec_id"),
        expr("transform(v, x -> cast(cast(round(x * (127.0 / ma)) as int) as double))")
          .as("q"))

  /** Quantized ANN, graded like [[ivfTopK]]'s recall audit: top-`k` by
    * cosine computed ON THE INT8 CODES — cosine is scale-invariant, so the
    * per-vector scale cancels and the scan never dequantizes (the point of
    * int8 serving: 4× less memory bandwidth than float32 at equal
    * recall). Emits the hit count of the quantized top-k against the
    * float32 brute-force truth plus a recall verdict; the DuckDB oracle
    * recomputes BOTH sides from the raw embeddings. Same zero-shuffle
    * shape as [[bruteForceTopK]]: broadcast query codes, map-side score,
    * TakeOrdered. */
  def int8TopKRecall(embeddings: DataFrame, queryId: Long, k: Int,
                     minHits: Int): DataFrame = {
    val codes = int8CodeVecs(embeddings)
    val q = codes.filter(col("vec_id") === queryId).select(col("q").as("qv"))
    val approx = codes.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(dot("q", "qv") / (norm("q") * norm("qv")), 6).as("cosine"))
      .orderBy(desc("cosine"), asc("vec_id"))
      .limit(k)
      .select("vec_id")
    val truth = bruteForceTopK(embeddings, queryId, k).select("vec_id")
    truth.join(approx, "vec_id")
      .agg(count(lit(1)).as("n_hits"))
      .select(col("n_hits"), (col("n_hits") >= lit(minHits.toLong)).as("recall_ok"))
  }

  /** Two-stage serving ANN: int8 COARSE SCAN → exact float RE-RANK — the
    * standard bandwidth-bound serving decomposition. Stage 1 scores the
    * whole corpus on the int8 codes (cosine is scale-invariant, so the
    * per-vector scale cancels and the scan moves 4× fewer bytes than
    * float32) and keeps a `pool`-sized candidate set (pool ≪ N, ≥ k);
    * stage 2 re-scores ONLY the pool at full float precision and returns
    * the top-k. Both stages are the zero-shuffle broadcast-query +
    * TakeOrdered shape; the pool travels as a broadcast semi-join back
    * into the float table. At 100 TB the full-precision table is touched
    * for `pool` rows per query instead of N — the re-rank recovers any
    * quantization-boundary flips the int8 ordering introduced, which is
    * why serving indexes run coarse+rerank rather than trusting the
    * quantized order ([[int8TopKRecall]] grades that raw order). */
  def int8RerankTopK(embeddings: DataFrame, queryId: Long, k: Int,
                     pool: Int): DataFrame = {
    val codes = int8CodeVecs(embeddings)
    val q8 = codes.filter(col("vec_id") === queryId).select(col("q").as("qv"))
    val cand = codes.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q8))
      .select(col("vec_id"),
        round(dot("q", "qv") / (norm("q") * norm("qv")), 6).as("c8"))
      .orderBy(desc("c8"), asc("vec_id"))
      .limit(pool)
      .select("vec_id")
    val base = embeddings.select(col("vec_id"), vecD("embedding").as("v"))
    val q = base.filter(col("vec_id") === queryId).select(col("v").as("qv"))
    base.join(broadcast(cand), Seq("vec_id"), "left_semi")
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(dot("v", "qv") / (norm("v") * norm("qv")), 6).as("cosine"))
      .orderBy(desc("cosine"), asc("vec_id"))
      .limit(k)
  }

  /** Packed hyperplane-sign signature: `nBits` deterministic hyperplanes
    * (components derived arithmetically from the plane/dim index, seeded —
    * no RNG, so fixtures are reproducible); value = sign bits packed into
    * one long. Runs on the native codegen'd
    * [[graft.functions.HyperplaneSig]] — one fused loop per row, no
    * per-row plane-matrix materialization. Zero shuffle. */
  private def packedSigns(df: DataFrame, nBits: Int): Column = {
    graft.functions.GraftExtensions.register(df.sparkSession)
    call_function("hyperplane_sig", col("v"), lit(nBits))
  }

  /** The higher-order-function formulation of [[packedSigns]] — retained as
    * the executable specification the native expression is spec-checked
    * against (bit-identical results, same fold order). */
  private[graft] def packedSignsHof(nBits: Int): Column = {
    val mix = 2654435761L
    // plane(b)[j] = frac(((b*64 + j) * mix) mod 4096 / 4096) - 0.5
    val planes = (s"transform(sequence(0, ${nBits - 1}), b -> " +
      s"transform(sequence(0, 63), j -> ((b * 64 + j) * $mix % 4096) / 4096.0 - 0.5))")
    expr(
      s"""aggregate(
            transform($planes, p -> if(aggregate(zip_with(v, p, (x, y) -> x * y), 0D, (a, b) -> a + b) > 0, 1L, 0L)),
            named_struct('h', 0L, 'b', 0),
            (st, bit) -> named_struct('h', st.h | shiftleft(bit, st.b), 'b', st.b + 1),
            st -> st.h)""")
  }

  /** Random-projection LSH bucketing: bucket = packed sign bits.
    * Query-time: candidates share the bucket; verify with exact cosine. */
  def lshBuckets(embeddings: DataFrame, nBits: Int): DataFrame = {
    val base = embeddings.select(col("vec_id"), vecD("embedding").as("v"))
    base
      .withColumn("bucket", packedSigns(base, nBits))
      .select("vec_id", "bucket")
  }

  /** Embedding-cosine near-duplicate pairs, confined to IVF cells (label
    * buckets) AND gated by LSH band collisions: top-`k` most similar
    * same-cell pairs. The pairwise loop is the hottest path of near-dup
    * detection, so it runs on the native codegen'd
    * [[graft.functions.CosineSimilarity]] (3× over the higher-order
    * formulation at bench scale; identical doubles).
    *
    * The band gate is what survives a skewed label at 100 TB: a pair is a
    * candidate only if it agrees on ALL `bitsPerBand` hyperplane signs of
    * at least one band, so the join fans out per (label, band, key) bucket
    * — never label×label. Selectivity follows the data's similarity
    * structure: on clustered corpora (real near-dups, cosine ≥ 0.9) the
    * gate prunes the quadratic hard (see the skewed-fixture spec); on an
    * adversarially uniform corpus (this synthetic fixture: top pair cosine
    * ≈ 0.47) the default 32×2-bit bands degrade gracefully toward exact —
    * a top-boundary pair (cos 0.35, bit-agree p=0.615) misses all 32 bands
    * with probability (1−0.615²)³² ≈ 2e-7, so the gated result is the
    * exact top-k here, deterministically (fixed hyperplanes, checked
    * against the DuckDB oracle). */
  def nearDupPairsWithinLabel(embeddings: DataFrame, k: Int,
                              bands: Int = 32, bitsPerBand: Int = 2): DataFrame = {
    graft.functions.GraftExtensions.register(embeddings.sparkSession)
    val cands = bandCandidatePairs(embeddings, bands, bitsPerBand)
    val base = embeddings.select(col("vec_id"), vecD("embedding").as("v"))
    cands
      .join(base.select(col("vec_id").as("vec_a"), col("v").as("va")), "vec_a")
      .join(base.select(col("vec_id").as("vec_b"), col("v").as("vb")), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        round(graft.functions.CosineSimilarity(col("va"), col("vb")), 6).as("cosine"))
      .orderBy(desc("cosine"), asc("vec_a"), asc("vec_b"))
      .limit(k)
  }

  /** Same-label pairs agreeing on all `bitsPerBand` hyperplane signs of at
    * least one of `bands` bands — the candidate set [[nearDupPairsWithinLabel]]
    * verifies with exact cosine. Exposed for the selectivity spec:
    * |candidates| ≪ n²/2 on clustered data. */
  def bandCandidatePairs(embeddings: DataFrame,
                         bands: Int, bitsPerBand: Int): DataFrame = {
    require(bands * bitsPerBand <= 64)
    val mask = (1L << bitsPerBand) - 1
    val base = embeddings
      .select(col("vec_id"), col("label"), vecD("embedding").as("v"))
    val signed = base.withColumn("sig", packedSigns(base, bands * bitsPerBand))
    val bk = signed.select(col("label"), col("vec_id"),
      posexplode(expr(
        s"transform(sequence(0, ${bands - 1}), b -> shiftright(sig, b * $bitsPerBand) & ${mask}L)"))
        .as(Seq("band", "key")))
    bk.select(col("label"), col("band"), col("key"), col("vec_id").as("vec_a"))
      .join(bk.select(col("label"), col("band"), col("key"), col("vec_id").as("vec_b")),
            Seq("label", "band", "key"))
      .filter(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b").distinct()
  }
}
