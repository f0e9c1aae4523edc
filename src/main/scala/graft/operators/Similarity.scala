package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Scale design: the brute-force path broadcasts the (small) query set and
  * streams the corpus once — a map-side nested loop, no shuffle of the corpus
  * beyond the final per-query top-k. The IVF path additionally restricts each
  * probe to its coarse cell (here the `label` column stands in for a learned
  * cluster assignment), turning the scan into a hash-partitioned equi-join —
  * at 100 TB only 1/nCells of the corpus is read per probe wave, and the join
  * shuffles on the cell id, never enumerating cross-cell pairs.
  */
object Similarity {

  /** The scaled-k semdedup operating point (x03 / production semdedup):
    * k ~ n/1000 keeps expected cell size — and therefore per-cell pair
    * cost — CONSTANT as the corpus grows (floor 8 so tiny corpora still
    * cluster), and the quantizer trains on a bounded ~20k-vector strided
    * sample (k-means quality needs coverage, not every vector —
    * full-corpus training would be n*k with k ~ n, i.e. quadratic).
    * The x03 row uses it, and the pair-space census of OPTIMIZATION_r14.md
    * measured this parameterization. Returns (k, sampleStride);
    * Lloyd iterations are [[ScaledSemDedupIters]]. */
  def scaledSemDedupParams(n: Long): (Int, Long) =
    (math.max(8L, n / 1000).toInt, math.max(1L, n / 20000))

  /** Lloyd iteration count of the scaled-k semdedup operating point. */
  val ScaledSemDedupIters: Int = 2

  /** Exact cosine top-k: every query against the whole corpus (baseline).
    * `queries` must be small (it is broadcast). */
  def knnBruteForce(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb")))
    val scored = corpus.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("c_emb"))
      // spread the corpus scan: single-row-group files scan as one task,
      // and the per-pair cosine is the dominant cost
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism)
      .crossJoin(q) // deliberate: broadcast nested loop, corpus streamed once
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("q_emb"), col("c_emb")), 6).as("score"))
    topK(scored, k)
  }

  /** IVF-style ANN: probe only the query's coarse cell (cellCol equality).
    * One shuffled equi-join on the cell id; no cross-cell work. */
  def knnIvf(corpus: DataFrame, queries: DataFrame, cellCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col(cellCol).as("q_cell"), col("embedding").as("q_emb")))
    val scored = corpus.select(col("vec_id").as("neighbor_id"),
        col(cellCol).as("c_cell"), col("embedding").as("c_emb"))
      .join(q, col("q_cell") === col("c_cell"))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("q_emb"), col("c_emb")), 6).as("score"))
    topK(scored, k)
  }

  /** Recall@k of ANY approximate (query_id, neighbor_id) result set
    * against exact squared-L2 truth over the index — the shared
    * measurement behind the e15/e16 recall gates: truth streams the raw
    * corpus once against the broadcast queries through the codegen sqdist
    * kernel and ranks with the salted bounded top-k; output one row per
    * query (query_id, n_hits, recall_e6). */
  def recallAtKExactL2(index: DataFrame, queries: DataFrame,
                       approx: DataFrame, k: Int): DataFrame = {
    val truth = index
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"))
      .join(broadcast(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"))),
        col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        sqDist(col("q_emb"), col("c_emb")).as("d"))
    val truthTop = BoundedRank.topKPerKey(truth, Seq("query_id"),
        Seq(col("d"), col("neighbor_id")), k, rankCol = "rk")
      .select("query_id", "neighbor_id")
    val hits = truthTop
      .join(approx.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    queries.select(col("vec_id").as("query_id"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        expr(s"(coalesce(n_hits, 0) * 1000000) div $k").as("recall_e6"))
  }

  /** Per-query top-k by (score desc, neighbor asc) — the shared ranking
    * contract of every similarity search entry point. */
  def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "score")
  }

  /** Embedding-cosine near-duplicate pairs (the 5th dedup modality): a
    * self-equi-join on the coarse cell (label) keeps the pair space
    * per-cell — shuffle on the cell id, never a cross join — then exact
    * cosine in double precision against a threshold. */
  def cosineNearDupPairs(corpus: DataFrame, cellCol: String,
                         threshold: Double): DataFrame = {
    val a = corpus.select(col("vec_id").as("vec_a"), col(cellCol).as("cell_a"),
      col("embedding").as("emb_a"))
    val b = corpus.select(col("vec_id").as("vec_b"), col(cellCol).as("cell_b"),
      col("embedding").as("emb_b"))
    a.join(b, col("cell_a") === col("cell_b") && col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(cosine(col("emb_a"), col("emb_b")), 6).as("score"))
      .where(col("score") >= threshold)
  }

  /** Embedding-space benchmark decontamination — the semantic sibling of
    * the surface-overlap purge (D14/D28): a training vector whose cosine
    * to ANY benchmark vector reaches the threshold is contaminated (its
    * content is too close to an eval item for the eval to stay honest,
    * even when no n-gram overlaps). The benchmark side is an eval suite —
    * small by contract — and BROADCASTS; the corpus streams ONCE through
    * the codegen cosine kernel (a map-side nested loop like E1), and the
    * only shuffle is the per-vector hit-count aggregation over the hit
    * subset. Output: one row per corpus vector with its benchmark hit
    * count and the keep flag.
    */
  def semanticDecontaminate(corpus: DataFrame, benchmark: DataFrame,
                            threshold: Double): DataFrame = {
    val b = broadcast(benchmark.select(col("vec_id").as("bench_id"),
      col("embedding").as("b_emb")))
    val hits = corpus.select(col("vec_id"), col("embedding"))
      .crossJoin(b) // deliberate: broadcast nested loop, corpus streamed once
      .where(round(cosine(col("embedding"), col("b_emb")), 6) >= threshold)
      .groupBy("vec_id").agg(count(lit(1)).as("n_hits"))
    corpus.select(col("vec_id"))
      .join(hits, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        when(col("n_hits").isNotNull, lit(0L)).otherwise(lit(1L)).as("kept"))
  }

  /** Hard-negative mining for contrastive / embedding-model training: for
    * each anchor, the k corpus vectors NEAREST by cosine that carry a
    * DIFFERENT label — close enough to confuse the model, labeled apart
    * (the negatives a triplet/InfoNCE batch builder wants; random
    * negatives are too easy and stall training). Anchors are a training
    * batch — small by contract — and BROADCAST; the corpus streams ONCE
    * through the codegen cosine kernel (the E1 cost shape with a label
    * guard); ranking is the salted two-level bounded top-k, never a
    * global sort, so a skewed anchor's candidate set still ranks in
    * bounded per-task state. */
  def hardNegatives(corpus: DataFrame, anchors: DataFrame, k: Int): DataFrame = {
    val a = broadcast(anchors.select(col("vec_id").as("anchor_id"),
      col("label").as("anchor_label"), col("embedding").as("a_emb")))
    val scored = corpus
      .select(col("vec_id").as("negative_id"), col("label").as("neg_label"),
        col("embedding").as("c_emb"))
      .crossJoin(a) // deliberate: broadcast nested loop, corpus streamed once
      .where(col("neg_label") =!= col("anchor_label"))
      .select(col("anchor_id"), col("negative_id"),
        round(cosine(col("a_emb"), col("c_emb")), 6).as("score"))
    BoundedRank.topKPerKey(scored, Seq("anchor_id"),
        Seq(negate(col("score")), col("negative_id")), k, rankCol = "rank")
      .select(col("anchor_id"), col("rank"), col("negative_id"), col("score"))
  }

  /** FILTERED top-k retrieval — the vector-DB reality: every production
    * query carries a metadata predicate ("top-k WHERE lang = query's").
    * This is the PRE-FILTER form (exact: the predicate cuts the corpus
    * BEFORE ranking, so k survivors always rank — post-filtering an
    * unfiltered top-k silently under-returns at low selectivity, the
    * classic filtered-ANN bug). Queries broadcast; the corpus streams
    * ONCE through the codegen cosine kernel with the predicate applied
    * in the same scan; ranking is the salted bounded top-k (never a
    * global sort). Here the predicate is label equality — the common
    * partition-key filter; arbitrary predicates are a `where` on
    * `corpus` before the call. */
  def filteredTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("label").as("q_label"), col("embedding").as("q_emb")))
    val scored = corpus
      .select(col("vec_id").as("match_id"), col("label").as("c_label"),
        col("embedding").as("c_emb"))
      .crossJoin(q) // deliberate: broadcast nested loop, corpus streamed once
      .where(col("c_label") === col("q_label") &&
        col("match_id") =!= col("query_id"))
      .select(col("query_id"), col("match_id"),
        round(cosine(col("q_emb"), col("c_emb")), 6).as("score"))
    BoundedRank.topKPerKey(scored, Seq("query_id"),
        Seq(negate(col("score")), col("match_id")), k, rankCol = "rank")
      .select(col("query_id"), col("rank"), col("match_id"), col("score"))
  }

  /** MMR (maximal marginal relevance) diversity re-rank — the standard
    * post-retrieval step of RAG/retrieval stacks (Carbonell & Goldstein
    * 1998): greedily pick the candidate maximizing
    * `lambda * rel(q, c) - (1 - lambda) * max_{s in selected} sim(c, s)`,
    * so near-duplicate hits don't crowd the result list.
    *
    * Integer-exact by construction (the cross-engine contract every gate
    * here honors): relevance and pairwise similarity quantize to
    * `floor(cosine * 1e6)` BEFORE any comparison — the cosine itself is
    * the bit-reproducible left-to-right double fold shared with the
    * oracle — and with lambda = lambda10/10 the selection value is the
    * INTEGER `lambda10 * rel_e6 - (10 - lambda10) * maxsim_e6`; ties
    * break on smallest candidate id. The greedy comparisons never touch
    * an unquantized double, so a last-ulp disagreement cannot flip a
    * selection.
    *
    * Scale shape: queries broadcast, the corpus streams ONCE through the
    * codegen cosine kernel (the E1 nested loop), the candidate pool cut
    * is the salted bounded top-`pool`, and the greedy runs per query
    * over `pool` candidates in one `mapGroups` — O(k * pool^2) work on
    * pool-bounded state (never corpus-sized), no driver collect. */
  def mmrRerank(corpus: DataFrame, queries: DataFrame, k: Int, pool: Int,
                lambda10: Int = 7): DataFrame = {
    require(lambda10 >= 0 && lambda10 <= 10, s"lambda10 in [0,10]: $lambda10")
    val spark = corpus.sparkSession
    import spark.implicits._
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb")))
    val scored = corpus
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"))
      .crossJoin(q) // deliberate: broadcast nested loop, corpus streamed once
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), col("c_emb"),
        floor(cosine(col("q_emb"), col("c_emb")) * 1e6).cast("long").as("rel_e6"))
    val cand = BoundedRank.topKPerKey(scored, Seq("query_id"),
        Seq(negate(col("rel_e6")), col("neighbor_id")), pool, rankCol = "rk")
      .select(col("query_id"), col("neighbor_id"), col("rel_e6"), col("c_emb"))
    cand.as[(Long, Long, Long, Array[Float])]
      .groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        val cs = it.toArray.sortBy(c => (-c._3, c._2)) // (rel desc, id asc)
        val n = cs.length
        // pairwise candidate similarity, quantized once (same fold order
        // as the graft_cosine kernel and the oracle's list_reduce)
        def cosE6(a: Array[Float], b: Array[Float]): Long = {
          var ab = 0.0; var aa = 0.0; var bb = 0.0; var i = 0
          while (i < a.length) {
            val x = a(i).toDouble; val y = b(i).toDouble
            ab += x * y; aa += x * x; bb += y * y; i += 1
          }
          math.floor(ab / (math.sqrt(aa) * math.sqrt(bb)) * 1e6).toLong
        }
        val selected = new scala.collection.mutable.ArrayBuffer[Int](k)
        val out = Seq.newBuilder[(Long, Long, Long, Long, Long)]
        var rank = 1
        while (rank <= math.min(k, n)) {
          var bestIdx = -1
          var bestVal = Long.MinValue
          var i = 0
          while (i < n) {
            if (!selected.contains(i)) {
              var ms = 0L // max-sim over the selected set; 0 when empty
              var first = true
              selected.foreach { s =>
                val v = cosE6(cs(i)._4, cs(s)._4)
                if (first || v > ms) { ms = v; first = false }
              }
              val v = lambda10 * cs(i)._3 - (10 - lambda10) * ms
              // strict > plus rel-desc/id-asc pre-sort = ties break on
              // (value desc, rel desc, id asc), matching the oracle
              if (v > bestVal) { bestVal = v; bestIdx = i }
            }
            i += 1
          }
          out += ((qid, rank.toLong, cs(bestIdx)._2, cs(bestIdx)._3, bestVal))
          selected += bestIdx
          rank += 1
        }
        out.result()
      }
      .toDF("query_id", "rank", "neighbor_id", "rel_e6", "mmr_value")
  }

  /** Per-cell centroids of the embedding column, computed with fixed-scale
    * decimal accumulation so the result is independent of partial-agg order
    * (and reproducible by an external oracle). */
  def centroids(corpus: DataFrame, cellCol: String): DataFrame =
    corpus.select(col(cellCol).as("cell"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("cell", "dim")
      .agg((sum(col("v").cast("double").cast("decimal(27,10)")).cast("double") /
            count(lit(1))).as("centroid"))

  // ---- hyperplane LSH (sign-random-projection buckets) ------------------

  /** Deterministic LCG-drawn hyperplanes (k x dim, components in [-1, 1)) —
    * fixed seed, so the Spark plan and the SQL oracle share the exact plane
    * constants. */
  def hyperplanes(k: Int, dim: Int, seed: Long = 20260812L): Seq[Seq[Double]] = {
    var x = seed
    def next(): Double = {
      x = x * 6364136223846793005L + 1442695040888963407L
      ((x >>> 11).toDouble / (1L << 53).toDouble) * 2.0 - 1.0
    }
    Seq.fill(k)(Seq.fill(dim)(next()))
  }

  /** Sign-random-projection bucket id: bit j set iff emb . plane_j > 0 —
    * the cosine-LSH family (Charikar '02): vectors at angle theta collide
    * per bit with probability 1 - theta/pi. */
  def hyperplaneBucket(emb: org.apache.spark.sql.Column,
                       planes: Seq[Seq[Double]]): org.apache.spark.sql.Column =
    planes.zipWithIndex.map { case (p, j) =>
      when(dot(emb, lit(p.toArray)) > 0d, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** LSH-bucketed embedding near-dup pairs — the hash-bucket alternative to
    * the IVF cell join (e04): one shuffle on the 2^k bucket ids, exact
    * cosine verification inside each bucket, never a cross join. Recall
    * trades against bucket size via k (more planes = smaller buckets,
    * lower per-bucket cost, more missed borderline pairs). */
  def hyperplaneLshNearDupPairs(corpus: DataFrame, dim: Int,
                                numPlanes: Int, threshold: Double): DataFrame = {
    val planes = hyperplanes(numPlanes, dim)
    val b = corpus.select(col("vec_id"), col("embedding"),
      hyperplaneBucket(col("embedding"), planes).as("bucket"))
    b.as("a").join(b.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(cosine(col("a.embedding"), col("b.embedding")), 6).as("score"))
      .where(col("score") >= threshold)
  }

  /** Multi-probe trained-IVF top-k: each query probes its `nprobe` nearest
    * coarse cells instead of one — the standard IVF recall knob (recall
    * grows with nprobe at proportional scan cost; nprobe = nCells is exact
    * search). The per-query cell ranking happens on the tiny q x k pair
    * set (queries are broadcast-small by contract); the corpus is touched
    * only through the cell equi-join, nprobe/nCells of it per query wave. */
  def knnIvfMultiProbe(corpus: DataFrame, queries: DataFrame,
                       centroids: DataFrame, nprobe: Int, k: Int): DataFrame = {
    val withCell = withAssignedCells(corpus, centroids)
    val qCells = queries.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"))
      .crossJoin(broadcast(centroids))
      .select(col("query_id"), col("q_emb"), col("cell"),
        sqDist(col("q_emb"), col("c_emb")).as("d"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("d").asc, col("cell").asc)
    val probes = qCells.withColumn("pr", row_number().over(w))
      .where(col("pr") <= nprobe)
      .select(col("query_id"), col("q_emb"), col("cell"))
    val scored = withCell
      .select(col("vec_id").as("neighbor_id"), col("cell"),
        col("embedding").as("c_emb2"))
      .join(broadcast(probes), "cell")
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("q_emb"), col("c_emb2")), 6).as("score"))
    topK(scored, k)
  }

  /** Product-quantization ANN (Jégou/Douze/Schmid, TPAMI 2011): split the
    * embedding into `m` subspaces, train a deterministic Lloyd codebook per
    * subspace, encode each corpus vector as `m` sub-centroid indices, and
    * answer top-k by asymmetric distance computation (ADC) — the full-
    * precision query scored against the quantized corpus as the sum of
    * per-subspace squared distances to the coded sub-centroids.
    *
    * Scale: the codebooks are m×k tiny tables collected once; encoding is a
    * SHUFFLE-FREE projection (m fused nearest-cell kernels per row) whose
    * output is m small ints per vector — at 100 TB this is the compressed
    * index you persist (codes are ~64x smaller than the raw vectors, and a
    * re-rank pass over the short candidate list restores exactness). The
    * ADC scan broadcasts only the query set and streams the coded corpus
    * once; per-pair cost is m table lookups + m subDim-length loops. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, m: Int, dim: Int,
             k: Int, iters: Int, topK: Int): DataFrame = {
    val codebooks = trainPqCodebooks(corpus, m, dim, k, iters)
    pqAdcSearch(encodePq(corpus, codebooks), codebooks, queries, topK)
  }

  /** Per-subspace trained PQ codebooks, collected in cell-id order; the
    * encode step uses POSITIONS 0..n-1 (order-isomorphic to cell ids, so
    * the argmin tie-break is preserved) to keep literal lookups dense even
    * if a Lloyd iteration emptied a cell. `codebooks(s)(c)` is subspace
    * s's centroid c (subDim doubles) — m×k×subDim total, driver-tiny.
    *
    * All m sub-quantizers train FUSED: the m Lloyd problems are
    * independent but read the same corpus, so one scan computes every
    * subspace's nearest-cell assignment in the projection and one
    * (subspace, cell, dim) aggregation replaces m (cell, dim)
    * aggregations over the same exploded row count. m×iters corpus
    * passes (plus m init collects) become iters passes (plus one) —
    * identical arithmetic per subspace (same assignment kernel, same
    * exact-decimal means), so the trained codebooks are bit-identical
    * to training each subspace alone. */
  def trainPqCodebooks(corpus: DataFrame, m: Int, dim: Int,
                       k: Int, iters: Int): Seq[Array[Array[Double]]] = {
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val subDim = dim / m
    // One init collect: the k lowest vec_ids carry every subspace's init
    // slice (trainCentroids' init per subspace is the same k rows).
    val initRows = corpus
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("e"))
      .orderBy("vec_id").limit(k).collect()
      .sortBy(_.getLong(0))
    // Per-subspace state: cell ids ascending + centroids in that order
    // (cells can vanish when a Lloyd iteration empties them — exactly as
    // in the per-subspace trainCentroids loop).
    val cells: Array[Array[Long]] =
      Array.fill(m)(initRows.indices.map(_.toLong).toArray)
    val cents: Array[Array[Array[Double]]] = Array.tabulate(m) { s =>
      initRows.map(_.getSeq[Double](1).slice(s * subDim, (s + 1) * subDim).toArray)
    }
    for (_ <- 1 to iters) {
      val asg = array((0 until m).map { s =>
        call_function("graft_nearest_cell",
          slice(col("embedding"), s * subDim + 1, subDim),
          lit(cells(s)), lit(cents(s).flatten))
      }: _*)
      val sub = expr(s"d div $subDim").cast("int")
      val next = corpus
        .select(asg.as("asg"), posexplode(col("embedding")).as(Seq("d", "v")))
        .select(sub.as("s"),
          element_at(col("asg"), sub + 1).as("cell"),
          expr(s"d % $subDim").as("dim"), col("v"))
        .groupBy("s", "cell", "dim")
        .agg((sum(col("v").cast("double").cast("decimal(27,10)")).cast("double") /
              count(lit(1))).as("m"))
        .groupBy("s", "cell")
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
          st => st.getField("m")).as("c_emb"))
        .collect()
      (0 until m).foreach { s =>
        val rows = next.filter(_.getInt(0) == s).sortBy(_.getLong(1))
        cells(s) = rows.map(_.getLong(1))
        cents(s) = rows.map(_.getSeq[Double](2).toArray)
      }
    }
    (0 until m).map(s => cents(s))
  }

  /** Encode the corpus against trained codebooks: `(neighbor_id, codes)`
    * where codes is m small ints — a SHUFFLE-FREE projection (m fused
    * nearest-cell kernels per row). This is the persistable index: ~64x
    * smaller than the raw vectors. */
  def encodePq(corpus: DataFrame,
               codebooks: Seq[Array[Array[Double]]]): DataFrame = {
    val m = codebooks.size
    val subDim = codebooks.head.head.length
    corpus.select(col("vec_id").as("neighbor_id"),
      array((0 until m).map { s =>
        call_function("graft_nearest_cell",
          slice(col("embedding"), s * subDim + 1, subDim),
          lit(codebooks(s).indices.map(_.toLong).toArray),
          lit(codebooks(s).flatten))
      }: _*).as("codes"))
  }

  /** Asymmetric-distance top-k over an encoded corpus: broadcast queries,
    * stream the coded rows once; per-pair cost is m lookups + m subDim
    * loops. `encoded` may come straight from [[encodePq]] or be read back
    * from a persisted index table. */
  def pqAdcSearch(encoded: DataFrame, codebooks: Seq[Array[Array[Double]]],
                  queries: DataFrame, topK: Int): DataFrame = {
    val m = codebooks.size
    val subDim = codebooks.head.head.length
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb")))
    val adc = (0 until m).map { s =>
      sqDist(slice(col("q_emb"), s * subDim + 1, subDim),
        element_at(typedLit(codebooks(s).map(_.toSeq).toSeq),
          col("codes").getItem(s).cast("int") + 1))
    }.reduce(_ + _)
    val scored = encoded.crossJoin(q)
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), round(adc, 6).as("dist"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("dist").asc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= topK)
      .select("query_id", "rank", "neighbor_id", "dist")
  }

  /** IVF-PQ — faiss `IndexIVFPQ`, THE production ANN composition: the
    * coarse-cell restriction of [[knnIvf]] (probe only the query's cell)
    * with [[pqAdcSearch]]'s quantized ADC scoring INSIDE the cell. The
    * two compression axes compose multiplicatively at scale: 1/nCells of
    * the corpus is read per probe wave, and what is read is the ~64x
    * smaller code table, not raw vectors. One shuffled equi-join on the
    * cell id (never a cross-cell pair), codes from the fused
    * graft_nearest_cell kernel, ranking via the salted bounded top-k. */
  def pqTopKIvf(corpus: DataFrame, queries: DataFrame, cellCol: String,
                m: Int, dim: Int, k: Int, iters: Int, topK: Int): DataFrame = {
    val codebooks = trainPqCodebooks(corpus, m, dim, k, iters)
    val subDim = dim / m
    val coded = corpus.select(col("vec_id").as("neighbor_id"),
      col(cellCol).as("c_cell"),
      array((0 until m).map { s =>
        call_function("graft_nearest_cell",
          slice(col("embedding"), s * subDim + 1, subDim),
          lit(codebooks(s).indices.map(_.toLong).toArray),
          lit(codebooks(s).flatten))
      }: _*).as("codes"))
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col(cellCol).as("q_cell"), col("embedding").as("q_emb")))
    val adc = (0 until m).map { s =>
      sqDist(slice(col("q_emb"), s * subDim + 1, subDim),
        element_at(typedLit(codebooks(s).map(_.toSeq).toSeq),
          col("codes").getItem(s).cast("int") + 1))
    }.reduce(_ + _)
    val scored = coded.join(q, col("c_cell") === col("q_cell"))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), round(adc, 6).as("dist"))
    BoundedRank.topKPerKey(scored, Seq("query_id"),
        Seq(col("dist"), col("neighbor_id")), topK, rankCol = "rank")
      .select("query_id", "rank", "neighbor_id", "dist")
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embeddings with the trained k-means
    * quantizer, form cosine pairs ONLY within a cluster, and drop every
    * vector that has a more-canonical (lower-id) near-duplicate at
    * `threshold` or above. Returns the kept `(vec_id, cell)` rows.
    *
    * Scale: the pair space is bounded by cluster sizes — the same
    * no-cross-join discipline as the text dedup modalities. Cost is one
    * k-means train (sample-able), one broadcast-k assignment pass, one
    * self-equi-join shuffling on the cell id, and one anti-join on vec_id.
    * At 100 TB, raise k so clusters stay executor-sized; the drop rule is
    * per-pair and needs no global state. */
  def semDedupKeep(corpus: DataFrame, k: Int, iters: Int,
                   threshold: Double): DataFrame = {
    val cents = trainCentroids(corpus, k, iters)
    val withCell = withAssignedCells(corpus, cents)
    val drop = cosineNearDupPairs(withCell, "cell", threshold)
      .select(col("vec_b").as("vec_id")).distinct()
    withCell.join(drop, Seq("vec_id"), "left_anti")
      .select("vec_id", "cell")
  }

  // ---- trained IVF (Lloyd's k-means, fully deterministic) ---------------

  /** Nearest-centroid assignment, fused: the k-row centroid table (tiny by
    * contract — it is the trained quantizer) is collected once and rides
    * into every task as a codegen reference object; the per-row argmin
    * (`min_by(cell, struct(sqDist, cell))` semantics, ties to the lowest
    * cell id) runs as ONE native expression inside whole-stage codegen.
    * ZERO shuffle and zero row blowup — this runs once per Lloyd
    * iteration, where the previous formulation (k-fold crossJoin + min_by
    * aggregation exchange) paid a full shuffle of N rows each pass. */
  def assignCells(corpus: DataFrame, centroids: DataFrame): DataFrame =
    corpus.select(col("vec_id"), nearestCellCol(centroids).as("cell"))

  /** The corpus plus its `cell` assignment in the SAME projection — use
    * instead of joining [[assignCells]] back by vec_id when downstream
    * needs the embeddings (a full-corpus self-join just to attach a
    * column the scan can compute in place). */
  def withAssignedCells(corpus: DataFrame, centroids: DataFrame): DataFrame =
    corpus.withColumn("cell", nearestCellCol(centroids))

  /** Fused argmin column over a collected centroid table (tiny by
    * contract): `min_by(cell, struct(sqDist, cell))` semantics as one
    * codegen kernel call, centroid matrix as a reference object. */
  private def nearestCellCol(centroids: DataFrame): org.apache.spark.sql.Column = {
    val rows = centroids.select(col("cell"), col("c_emb")).collect()
      .sortBy(_.getLong(0))
    val cells = rows.map(_.getLong(0))
    val cents = rows.flatMap(_.getSeq[Double](1).toArray)
    call_function("graft_nearest_cell", col("embedding"), lit(cells), lit(cents))
  }

  /** Lloyd's k-means over the embedding column — the trained coarse
    * quantizer behind a real IVF index (replacing the `label` stand-in).
    * Deterministic end to end: init is the k lowest vec_ids, assignment
    * ties break on cell id, and means accumulate through fixed-scale
    * decimals, so any executor count reproduces the oracle. At 100 TB,
    * train on a sample via `sampleFraction` (seed-deterministic for a
    * given input layout): centroid quality needs only a representative
    * subset, and each Lloyd iteration then passes over fraction*corpus
    * instead of the full table. The assignment carries only the k
    * centroids into each task; each iteration is one shuffle-free
    * training-set pass + one shuffle on cell/dim for the means. */
  def trainCentroids(corpus: DataFrame, k: Int, iters: Int,
                     sampleFraction: Double = 1.0,
                     sampleSeed: Long = 20260812L): DataFrame = {
    require(sampleFraction > 0.0 && sampleFraction <= 1.0,
      s"sampleFraction must be in (0, 1], got $sampleFraction")
    val training =
      if (sampleFraction < 1.0)
        corpus.sample(withReplacement = false, sampleFraction, sampleSeed)
      else corpus
    // Init = the k lowest vec_ids, cell id = rank within that set. The k
    // rows are collected (TakeOrdered — never a global sort) and rebuilt as
    // a literal DataFrame on the driver: no global-window ranking pass, and
    // iteration plans start from literal rows.
    val spark = training.sparkSession
    val centSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cell",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("c_emb",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType), nullable = true)))
    val initRows = training
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("c_emb"))
      .orderBy("vec_id").limit(k).collect()
      .sortBy(_.getLong(0)).zipWithIndex
      .map { case (r, i) =>
        org.apache.spark.sql.Row(i.toLong, r.getSeq[Double](1)) }
    var cents = spark.createDataFrame(
      java.util.Arrays.asList(initRows: _*), centSchema)
    for (_ <- 1 to iters) {
      // Assignment rides IN the training-set scan (fused nearest-cell
      // kernel) — the previous join of assignCells back on vec_id paid a
      // full corpus shuffle per iteration for a column the scan computes
      // in place.
      val next = withAssignedCells(training, cents)
        .select(col("cell"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy("cell", "dim")
        .agg((sum(col("v").cast("double").cast("decimal(27,10)")).cast("double") /
              count(lit(1))).as("m"))
        .groupBy("cell")
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
          s => s.getField("m")).as("c_emb"))
      // Materialize the k-row centroid table on the driver each iteration
      // (k*dim doubles — tiny): the next iteration's plan starts from
      // literal rows instead of a lineage that re-derives every previous
      // iteration from the corpus, so per-iteration cost stays constant
      // instead of growing exponentially with iters (MLlib's k-means does
      // the same). Values are unchanged — the oracle still matches.
      val rows = next.collect()
      cents = training.sparkSession.createDataFrame(
        java.util.Arrays.asList(rows: _*), next.schema)
    }
    cents
  }
}
