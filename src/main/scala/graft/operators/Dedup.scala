package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed deduplication operators for training-data pipelines.
  *
  * Scale design (the 100 TB story):
  *  - Exact dedup is a hash-groupBy: one shuffle on the content digest,
  *    map-side partial aggregation, no wide rows.
  *  - Near-dup (MinHash/LSH) NEVER forms the all-pairs cross product. Docs
  *    are exploded to (band, minhash) keys; the self-join shuffles on those
  *    band-hash keys so only docs agreeing on a band ever meet (both sides
  *    are the identical plan, so Spark reuses one shuffle exchange), then
  *    exact Jaccard verification runs on the (tiny) candidate set. AQE
  *    handles hot-band skew.
  *  - SimHash groups near-identical docs by a single fingerprint equality —
  *    one shuffle, no pair enumeration at all.
  *
  * The text-hash kernels are native Catalyst expressions with codegen
  * ([[graft.expressions.GraftSparkSessionExtensions]] must be installed);
  * interpreted higher-order-function equivalents live in
  * [[graft.functions.TextFunctions]] and are cross-checked in tests.
  */
object Dedup {

  /** Exact dedup: group by content digest; keep the smallest id as the
    * canonical representative and count duplicates. */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol).cast("binary")).as("content_md5"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Default band-bucket size cap: >500 documents agreeing on a whole
    * minhash band is boilerplate/degenerate text, not near-duplication
    * worth O(m^2) candidate pairs. */
  val DefaultMaxBandBucket = 500

  /** Default signature-agreement prefilter margin, in quarters: band
    * candidates whose estimated Jaccard (matching sketch bytes / NumPerms)
    * falls below threshold - marginQuarters/4 are dropped in-join, before
    * exact verification. See [[minhashNearDupPairs]] for the miss bound. */
  val DefaultSketchMarginQuarters = 1

  /** MinHash-LSH near-duplicate pairs over character 3-gram shingles.
    *
    * Candidate generation: each doc emits (perm_index, minhash) keys; a
    * self-equi-join on those keys (doc_a < doc_b) yields candidates without
    * a cross join. Verification: exact integer Jaccard (i/u >= num/den
    * evaluated as i*den >= u*num) over the distinct shingle sets; the
    * reported score is floor(i*1e6/u) — bitwise reproducible by a SQL
    * oracle. With the 12 permutations the miss probability for a true pair
    * at J=0.8 is 0.2^12 ~ 4e-9.
    *
    * OUTPUT CONTRACT (prefilter): candidates are additionally prefiltered
    * INSIDE the band join by the signature-agreement estimate at
    * `threshold - marginQuarters/4` (default margin 1/4), so a pair whose
    * TRUE Jaccard meets the threshold can in principle be dropped when its
    * estimate lands below the margin. The estimate is deterministic (a SQL
    * oracle reproduces it bit-for-bit from the same mod-16 sketch chain)
    * and the miss probability for a true pair is Chernoff-bounded by
    * exp(-2 * NumPerms * margin^2) — ~1.4e-11 per pair at 200 permutations
    * with the default margin. `marginQuarters = 0` prunes at the RAW
    * threshold (the most aggressive setting — estimate >= threshold drops
    * ~half of the exactly-at-threshold true pairs); pass a NEGATIVE value
    * to disable the prefilter entirely (pure candidates-verified-by-
    * exact-Jaccard semantics, at the cost of shuffling every
    * sub-threshold boilerplate collision through verification — at 100x
    * corpus scale that was a 430 GB spill). */
  def minhashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                          thresholdNum: Int = 4, thresholdDen: Int = 5,
                          maxBandBucket: Int = DefaultMaxBandBucket,
                          marginQuarters: Int = DefaultSketchMarginQuarters
                         ): DataFrame = {
    val bands = cappedBandKeys(docs, idCol, textCol, maxBandBucket,
      withSketch = marginQuarters >= 0)
    val base = repartitionedDocs(docs, idCol, textCol)

    // Signature-agreement prefilter INSIDE the band join (the r12 sf10
    // probe's superlinear finding): candidate volume grows faster than the
    // corpus whenever moderately-similar doc families (J ~ 0.3-0.5 —
    // templated/boilerplate text) collide on a band, and each such
    // candidate would otherwise ship two multi-KB shingle sets through the
    // verification join (430 GB of observed spill at the 100x probe).
    // Each band row carries a half-byte-per-perm nibble SKETCH of the
    // signature (v % 16, packed two per byte —
    // [[graft.expressions.SigSketchExpression]]), so the estimate
    // evaluates as part of the join condition and NO per-pair payload
    // ever shuffles: the only widening is NumPerms/2 bytes on each band
    // row (a fixed 25x-replicated ~100 B per doc — halved from the mod-251
    // byte sketch it replaced, directly thinning the rows the band join
    // sorts at the 100x probe). Pairs whose nibble-estimate is below
    // threshold - 1/4 are dropped in-join. The bound is DETERMINISTIC
    // (the SQL oracle computes the same mod-16 counts), sound against
    // nibble collisions (equal values imply equal nibbles, so the
    // estimate only reads HIGH — a dropped pair is dropped on the exact
    // estimate too; the 1/16 false-match rate merely passes a few more
    // near-threshold candidates to exact verification: a J=0.5 pair reads
    // ~53% expected agreement vs the 55% drop bar), and sound in the
    // Chernoff sense: for a true pair at J = threshold,
    // P(estimate < J - 1/4) <= exp(-2*NumPerms/16) ~ 1e-11 with 200
    // permutations — collisions only tighten it.
    val minMatching = {
      import graft.functions.TextFunctions.NumPerms
      // est >= num/den - q/4  <=>  m * 4*den >= NumPerms * (4*num - q*den)
      (NumPerms.toLong * (4L * thresholdNum - marginQuarters.toLong * thresholdDen),
        4L * thresholdDen)
    }
    val joinCond = {
      val keys = col("a.band_id") === col("b.band_id") &&
        col("a.band_key") === col("b.band_key") &&
        col("a.doc_id") < col("b.doc_id")
      if (marginQuarters < 0) keys // prefilter disabled: pure LSH candidates
      else keys &&
        expr("graft_count_eq_nibbles(a.sketch, b.sketch)") * lit(minMatching._2) >=
          lit(minMatching._1)
    }
    val cand = bands.as("a").join(bands.as("b"), joinCond)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()

    // Verification joins against per-doc precomputed sorted shingle-hash
    // sets (computed once per doc, not per pair) and counts intersection /
    // union with an allocation-free linear merge.
    val shs = base.select(col("doc_id"),
      expr("graft_shingle_hash_set(text)").as("shs"))
    cand
      .join(shs.select(col("doc_id").as("doc_a"), col("shs").as("shs_a")), "doc_a")
      .join(shs.select(col("doc_id").as("doc_b"), col("shs").as("shs_b")), "doc_b")
      // Sound size-ratio prefilter: J >= num/den implies
      // min(|A|,|B|)*den >= max(|A|,|B|)*num, so dropping pairs that fail it
      // cannot drop a true pair — it just skips the merge kernel for them.
      .where(least(size(col("shs_a")), size(col("shs_b"))) * thresholdDen >=
        greatest(size(col("shs_a")), size(col("shs_b"))) * thresholdNum)
      .withColumn("iu", expr("graft_sorted_iu(shs_a, shs_b)"))
      .select(col("doc_a"), col("doc_b"),
        col("iu").getItem(0).as("i"), col("iu").getItem(1).as("u"))
      .where(col("i") * thresholdDen >= col("u") * thresholdNum)
      .select(col("doc_a"), col("doc_b"),
        expr("CAST((i * 1000000) div u AS BIGINT)").as("jaccard_e6"))
  }

  /** LSH estimator quality measurement — the text-side analog of the ANN
    * recall gate (E11): for every band-candidate pair, the signature-
    * agreement Jaccard ESTIMATE (matching permutations / NumPerms — the
    * classic MinHash unbiased estimator) against the EXACT shingle
    * Jaccard. Run alongside a dedup job, this measures in-engine how much
    * the estimator the LSH layer trusts deviates on THIS corpus (estimator
    * error concentrates candidates near the band threshold; a drifting
    * corpus shows up here before it shows up as missed dups).
    *
    * Plan shape: identical to [[minhashNearDupPairs]] candidate generation
    * (capped band self-join, no cross join); per-doc signatures and
    * shingle sets compute once (two codegen kernels in one projection) and
    * join to the pair list; the estimate is an integer zip-count — exact,
    * engine-reproducible, like every score here. */
  def minhashEstimateQuality(docs: DataFrame, idCol: String, textCol: String,
                             maxBandBucket: Int = DefaultMaxBandBucket): DataFrame = {
    val nPerms = graft.functions.TextFunctions.NumPerms
    val bands = cappedBandKeys(docs, idCol, textCol, maxBandBucket)
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band_id") === col("b.band_id") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val sigs = repartitionedDocs(docs, idCol, textCol)
      .select(col("doc_id"),
        expr("graft_minhash_sig(text)").as("sig"),
        expr("graft_shingle_hash_set(text)").as("shs"))
    cand
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"),
        col("shs").as("shs_a")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"),
        col("shs").as("shs_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        expr("graft_count_eq(sig_a, sig_b)").as("m"),
        expr("graft_sorted_iu(shs_a, shs_b)").as("iu"))
      .select(col("doc_a"), col("doc_b"),
        expr(s"CAST((m * 1000000) div $nPerms AS BIGINT)").as("est_e6"),
        expr("CAST((iu[0] * 1000000) div iu[1] AS BIGINT)").as("jaccard_e6"))
      .withColumn("err_e6", abs(col("est_e6") - col("jaccard_e6")))
  }

  /** Incremental near-dup check — which NEW documents near-duplicate ANY
    * already-indexed document (the daily-ingest form of
    * [[minhashNearDupPairs]]: a production pipeline persists the indexed
    * side's band keys as its LSH index and probes each incoming batch
    * against it). `docs` carries a boolean `isNewCol`; band keys and the
    * bucket-size cap are computed over the FULL corpus (the cap guards the
    * index, not a batch), and candidates pair new x indexed only — batch-
    * internal duplicates are [[minhashNearDupPairs]]'s job. Returns one row
    * per matched new doc: (doc_id, n_matches, best_jaccard_e6). */
  def incrementalNearDup(docs: DataFrame, idCol: String, textCol: String,
                         isNewCol: String,
                         thresholdNum: Int = 4, thresholdDen: Int = 5,
                         maxBandBucket: Int = DefaultMaxBandBucket): DataFrame = {
    val bands = cappedBandKeys(docs, idCol, textCol, maxBandBucket,
      extraCols = Seq(isNewCol))
    val shs = repartitionedDocs(docs, idCol, textCol)
      .select(col("doc_id"), expr("graft_shingle_hash_set(text)").as("shs"))
    verifiedMatches(bands.where(col(isNewCol)), bands.where(!col(isNewCol)),
      shs, shs, thresholdNum, thresholdDen)
  }

  /** Asymmetric band-candidate join + exact-Jaccard verify shared by the
    * batch and streaming incremental probes: candidates pair new x indexed
    * band agreements, verification merges the two sides' precomputed
    * sorted shingle-hash sets. Returns (doc_id, n_matches, best_jaccard_e6)
    * per matched new doc. */
  private def verifiedMatches(newBands: DataFrame, idxBands: DataFrame,
                              newShs: DataFrame, idxShs: DataFrame,
                              thresholdNum: Int, thresholdDen: Int): DataFrame = {
    val cand = newBands.as("a")
      .join(idxBands.as("b"),
        col("a.band_id") === col("b.band_id") &&
          col("a.band_key") === col("b.band_key"))
      .select(col("a.doc_id").as("doc_new"), col("b.doc_id").as("doc_idx"))
      .distinct()
    cand
      .join(newShs.select(col("doc_id").as("doc_new"), col("shs").as("shs_a")), "doc_new")
      .join(idxShs.select(col("doc_id").as("doc_idx"), col("shs").as("shs_b")), "doc_idx")
      .where(least(size(col("shs_a")), size(col("shs_b"))) * thresholdDen >=
        greatest(size(col("shs_a")), size(col("shs_b"))) * thresholdNum)
      .withColumn("iu", expr("graft_sorted_iu(shs_a, shs_b)"))
      .select(col("doc_new"), col("doc_idx"),
        col("iu").getItem(0).as("i"), col("iu").getItem(1).as("u"))
      .where(col("i") * thresholdDen >= col("u") * thresholdNum)
      .select(col("doc_new"),
        expr("CAST((i * 1000000) div u AS BIGINT)").as("j"))
      .groupBy(col("doc_new").as("doc_id"))
      .agg(count(lit(1)).as("n_matches"), max(col("j")).as("best_jaccard_e6"))
  }

  /** Persisted LSH probe index over an indexed corpus: (capped band keys,
    * sorted shingle-hash sets) — what a streaming dedup gate holds
    * resident between micro-batches. Caller unpersists both when done. */
  def buildLshIndex(indexed: DataFrame, idCol: String, textCol: String,
                    maxBandBucket: Int = DefaultMaxBandBucket): (DataFrame, DataFrame) = {
    val bands = cappedBandKeys(indexed, idCol, textCol, maxBandBucket).persist()
    val shs = repartitionedDocs(indexed, idCol, textCol)
      .select(col("doc_id"), expr("graft_shingle_hash_set(text)").as("shs"))
      .persist()
    (bands, shs)
  }

  /** Probe one (micro-)batch of incoming docs against a prebuilt
    * [[buildLshIndex]]: incoming band keys are computed uncapped (the cap
    * guards the resident index; a batch is small by construction) and
    * joined against the index bands. Batch-internal duplicates are out of
    * scope — run [[minhashNearDupPairs]] within the batch for those. */
  def probeLshIndex(batch: DataFrame, idCol: String, textCol: String,
                    indexBands: DataFrame, indexShs: DataFrame,
                    thresholdNum: Int = 4, thresholdDen: Int = 5): DataFrame = {
    val newBands = bandKeyRows(batch, idCol, textCol)
    val newShs = repartitionedDocs(batch, idCol, textCol)
      .select(col("doc_id"), expr("graft_shingle_hash_set(text)").as("shs"))
    verifiedMatches(newBands, indexBands, newShs, indexShs,
      thresholdNum, thresholdDen)
  }

  /** Spread the signature compute across the cluster: source files may be
    * few/unsplittable (single row group) and the kernel is the heavy step,
    * so a cheap shuffle of the raw docs buys full parallelism. */
  private def repartitionedDocs(docs: DataFrame, idCol: String,
                                textCol: String,
                                extraCols: Seq[String] = Nil): DataFrame =
    docs.select(col(idCol).as("doc_id") +: col(textCol).as("text") +:
        extraCols.map(col): _*)
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("doc_id"))

  /** Banded LSH keys with the bucket-size guard: the 200-perm signature is
    * sliced into 25 bands of 8 rows; a band key is the 64-bit xxhash of
    * (band index, the band's 8 signature values) — the textbook band-hash
    * bucket key. Docs meet iff they agree on a whole band. An 8-byte long
    * key instead of the comma-joined value string (~80 chars at the 1e9+7
    * hash modulus) thins every exploded band row the self-join sorts and
    * shuffles at corpus scale, and turns the sort comparisons into long
    * compares; a hash COLLISION can only ADD a candidate pair (two docs
    * differing on every band landing in one bucket), which exact Jaccard
    * verification then removes — at 2^-64 per cross-key row pair the
    * expected spurious-candidate count is ~1e-6 even at the 100x probe's
    * 12.5M band rows, and the DuckDB oracles join the raw band values, so
    * a collision would surface as a gate mismatch rather than hide.
    * [[cappedBandKeys]] drops buckets
    * above `maxBandBucket` via the broadcast anti-join df-cap (heavy
    * buckets are bounded by rows/cap, so the heavy-key set broadcasts):
    * the standard guard against degenerate/boilerplate bands exploding
    * one bucket into O(m^2) candidates at corpus scale, without the
    * window form's sort of every band partition. */
  private def bandKeyRows(docs: DataFrame, idCol: String,
                          textCol: String,
                          extraCols: Seq[String] = Nil,
                          withSketch: Boolean = false): DataFrame = {
    val sig = repartitionedDocs(docs, idCol, textCol, extraCols)
      .select(col("doc_id") +: expr("graft_minhash_sig(text)").as("sig") +:
        extraCols.map(col): _*)
    // The sketch MUST be computed below the explode (withColumn on the
    // per-doc frame, not in the posexplode select): computed above, the
    // full NumPerms-long `sig` array would be carried through the Generate
    // (25x-replicated 1.6 KB per band row, a 12x row-width blowup the sf10
    // probe measured as the band join's dominant sort cost) and the sketch
    // kernel would run once per band row instead of once per doc.
    val pre =
      if (withSketch) sig.withColumn("sketch", expr("graft_sig_sketch(sig)"))
      else sig
    val bandKeys = bandHashKeys(col("sig"))
    val sketchCols = if (withSketch) Seq("sketch") else Nil
    pre.select(col("doc_id") +: posexplode(bandKeys).as(Seq("band_id", "band_key")) +:
      (sketchCols ++ extraCols).map(col): _*)
  }

  /** The per-band bucket keys of a minhash signature column: one xxhash64
    * long per band over (band index, the band's signature slice). The
    * sf1/sf10 band-bucket census in SURVEY.md counted these keys. The
    * band index inside the hash keeps cross-band value
    * coincidences from colliding even before the explicit band_id join
    * key does. */
  private[graft] def bandHashKeys(sig: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import graft.functions.TextFunctions.{LshBands, LshRows}
    transform(sequence(lit(0), lit(LshBands - 1)), i =>
      xxhash64(i, slice(sig, i * LshRows + 1, lit(LshRows))))
  }

  private def cappedBandKeys(docs: DataFrame, idCol: String, textCol: String,
                             maxBandBucket: Int,
                             extraCols: Seq[String] = Nil,
                             withSketch: Boolean = false): DataFrame = {
    val rows = bandKeyRows(docs, idCol, textCol, extraCols, withSketch)
    if (maxBandBucket == Int.MaxValue) return rows // uncapped: no cap pass
    dfCapPostings(rows, Seq("band_id", "band_key"), maxBandBucket)
  }

  /** Monitoring view of what the cap drops: oversized (band_id, band_key)
    * buckets and their sizes — run alongside a dedup job to quantify
    * boilerplate (the "logged count" companion to the silent in-plan cap).
    * One groupBy over the exploded bands; no window pass. The band_key is
    * the 64-bit bucket hash ([[bandHashKeys]]) — it identifies the bucket;
    * join it back to [[winnowFingerprintRows]]-style doc listings to see
    * the member documents. */
  def oversizedBandBuckets(docs: DataFrame, idCol: String, textCol: String,
                           maxBandBucket: Int = DefaultMaxBandBucket): DataFrame =
    bandKeyRows(docs, idCol, textCol)
      .groupBy("band_id", "band_key")
      .agg(count(lit(1)).as("bucket_size"))
      .where(col("bucket_size") > maxBandBucket)

  /** Document-frequency cap over an inverted-index posting list, shaped for
    * scale: aggregate per-key counts, keep only the HEAVY keys (df > cap —
    * a set bounded by |postings|/cap, so small by construction), broadcast
    * them, and drop their postings with a broadcast anti-join. The light
    * keys — the overwhelming majority — never leave the map side.
    *
    * This replaces the earlier `count(*) over (partition by key)` window
    * form, which sorted every posting partition before the self-join (the
    * d07 regression): the anti-join needs no sort at all, and the postings
    * scan stays in whole-stage codegen. Output is row-identical to the
    * window form.
    */
  private def dfCapPostings(postings: DataFrame, keyCol: String,
                            maxDocFreq: Int): DataFrame =
    dfCapPostings(postings, Seq(keyCol), maxDocFreq)

  private def dfCapPostings(postings: DataFrame, keyCols: Seq[String],
                            maxDocFreq: Int): DataFrame = {
    val heavy = postings.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__df"))
      .where(col("__df") > maxDocFreq)
      .select(keyCols.map(col): _*)
    postings.join(broadcast(heavy), keyCols, "left_anti")
  }

  /** Exact word n-gram Jaccard near-duplicate pairs via an inverted-index
    * join — the non-probabilistic companion to MinHash-LSH for corpora
    * where exact overlap scores matter.
    *
    * Scale shape: docs explode to distinct (gram, doc_id) postings; a
    * document-frequency cap drops grams appearing in more than `maxDocFreq`
    * docs (a gram with frequency d fans out d^2/2 pairs, so the join cost
    * is sum(min(df, cap)^2) — ubiquitous grams are boilerplate, not
    * similarity signal, and the default cap keeps any one gram's fanout at
    * 10^4 pairs); the self-equi-join shuffles
    * on the gram key only, then one aggregation counts the intersection
    * per pair. Jaccard is computed over the capped (informative) gram
    * space on BOTH sides — sizes and intersections see the same postings,
    * so the score is self-consistent. No cartesian product anywhere.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int = 2, thresholdNum: Int = 1, thresholdDen: Int = 2,
                        maxDocFreq: Int = 100): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val base = repartitionedDocs(docs, idCol, textCol)
    val words = filter(split(col("text"), " "), w => length(w) > 0)
    val grams = array_distinct(transform(
      sequence(lit(0), size(col("__w")) - n), i =>
        concat_ws(" ", slice(col("__w"), i + 1, lit(n)))))
    val postings = base
      .withColumn("__w", words)
      .where(size(col("__w")) >= n)
      .select(col("doc_id"), explode(grams).as("gram"))
    val capped = dfCapPostings(postings, "gram", maxDocFreq)
    val sizes = capped.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = capped.as("a").join(capped.as("b"),
        col("a.gram") === col("b.gram") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .withColumn("u", col("na") + col("nb") - col("i"))
      .where(col("i") * thresholdDen >= col("u") * thresholdNum)
      .select(col("doc_a"), col("doc_b"),
        expr("CAST((i * 1000000) div u AS BIGINT)").as("jaccard_e6"))
  }

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken local
    * fingerprinting): the minimum rolling hash of each sliding window of
    * character n-gram hashes, exploded to (doc_id, fingerprint) rows. Any
    * shared substring of length >= window+n-1 guarantees a shared
    * fingerprint at ~2/(window+1) the density of the raw hash sequence —
    * the standard containment/plagiarism index. The kernel is a codegen'd
    * Catalyst expression; the output shuffles only if the consumer groups
    * by fingerprint (posting-list construction). */
  def winnowFingerprintRows(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    repartitionedDocs(docs, idCol, textCol)
      .select(col("doc_id"), explode(expr("graft_winnow(text)")).as("fingerprint"))

  /** Containment detection over winnowing fingerprints (the MOSS use):
    * pairs sharing at least thresholdNum/thresholdDen of the SMALLER doc's
    * fingerprints — catches partial duplication (one document embedded in
    * another) that symmetric Jaccard scores miss. Same scale shape as the
    * n-gram join: df-capped postings, self-equi-join on the fingerprint,
    * one aggregation per pair; containment is scored over the capped
    * fingerprint space on both sides. */
  def winnowContainmentPairs(docs: DataFrame, idCol: String, textCol: String,
                             thresholdNum: Int = 1, thresholdDen: Int = 2,
                             maxDocFreq: Int = 100): DataFrame = {
    val fps = winnowFingerprintRows(docs, idCol, textCol)
    val capped = dfCapPostings(fps, "fingerprint", maxDocFreq)
    val sizes = capped.groupBy("doc_id").agg(count(lit(1)).as("n"))
    capped.as("a").join(capped.as("b"),
        col("a.fingerprint") === col("b.fingerprint") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .where(col("shared_fps") * thresholdDen >=
        least(col("na"), col("nb")) * thresholdNum)
      .select(col("doc_a"), col("doc_b"), col("shared_fps"),
        expr("CAST((shared_fps * 1000000) div least(na, nb) AS BIGINT)")
          .as("containment_e6"))
  }

  /** Default cache for [[bloomDecontaminate]]'s benchmark set. Kept as a
    * named sentinel so the function can tell "library-owned cache" (must
    * be released before returning) from a harness-supplied hook (the
    * harness owns the release). */
  private val OwnedBenchCache: DataFrame => DataFrame = _.persist()

  /** Benchmark decontamination with a broadcast Bloom-sketch prefilter —
    * the 100 TB form of the fingerprint-overlap purge: instead of
    * broadcasting (or shuffling) the exact benchmark fingerprint set into
    * the join, a compact Bloom filter over it rides into the training-side
    * scan (`graft_bloom_might_contain`, codegen'd) and drops the vast
    * majority of fingerprints map-side; the EXACT join then runs only on
    * the sketch survivors, so false positives cannot leak into the result
    * — output is identical to the exact-join formulation, row for row.
    * `isBench` is a predicate over the renamed `doc_id` column. */
  def bloomDecontaminate(docs: DataFrame, idCol: String, textCol: String,
                         isBench: org.apache.spark.sql.Column,
                         fpp: Double = 0.01,
                         expectedItems: Option[Long] = None,
                         cacheHook: DataFrame => DataFrame = OwnedBenchCache): DataFrame = {
    val fps = winnowFingerprintRows(docs, idCol, textCol)
    // The benchmark fingerprint set (small by construction) feeds THREE
    // consumers — the sizing count, the filter build, and the exact verify
    // join. The first two are eager, so they always run against a cached
    // copy. With the default (library-owned) cache, that copy is released
    // as soon as the eager consumers are done and the lazy verify join
    // recomputes the bench side once at materialization (a bench-only
    // winnow scan) — direct callers never leak a persisted dataset. A
    // harness-supplied hook keeps the cache through the join and owns its
    // release.
    val owned = cacheHook eq OwnedBenchCache
    val benchSet = fps.where(isBench).select("fingerprint").distinct()
    val bench = cacheHook(benchSet)
    val n = expectedItems.getOrElse(math.max(bench.count(), 1L))
    val bf = bench.stat.bloomFilter("fingerprint", n, fpp)
    if (owned) bench.unpersist()
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    val prefiltered = fps.where(!isBench)
      .where(call_function("graft_bloom_might_contain",
        col("fingerprint"), lit(bos.toByteArray)))
    prefiltered.join(if (owned) benchSet else bench, "fingerprint")
      .select("doc_id").distinct()
  }

  /** SimHash fingerprint per document (near-identical docs collide). */
  def simhashFingerprints(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      expr(s"graft_simhash(`$textCol`)").as("simhash"))

  /** Groups of documents sharing a SimHash fingerprint: one shuffle. */
  def simhashDupGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    simhashFingerprints(docs, idCol, textCol)
      .groupBy("simhash")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("group_size"))
      .where(col("group_size") > 1)

  /** Connected components over a near-duplicate pair list: the step that
    * turns pairwise LSH output into per-CLUSTER keep/drop decisions. Pair
    * lists are not enough for corpus pruning — if A~B and B~C but A!~C,
    * dropping every doc_b of a pair can drop both B and C while a
    * cluster-aware prune keeps one canonical doc per component.
    *
    * Algorithm: distributed min-label propagation (hash-to-min). Every doc
    * starts labeled with its own id; each round pushes labels across the
    * symmetric edge list and keeps the per-doc minimum. Labels only
    * decrease, so SUM(label) is a strictly decreasing convergence measure —
    * one scalar action per round, no change-join. Rounds needed = graph
    * diameter; near-dup components are shallow (dup chains, boilerplate
    * stars), so the practical bound is small, and `maxIters` guards
    * pathological inputs.
    *
    * Scale shape: each round is one shuffle-join of labels against the
    * (pre-partitioned, persisted) edge list plus one partial-aggregated
    * groupBy min — O(E) per round, never materializing components as rows.
    * Each round's labels are `localCheckpoint`ed: the plan references the
    * previous round twice, so without lineage truncation the logical plan
    * doubles per round (2^rounds nodes — OOM well before round 20).
    *
    * Output: (doc_id, cluster_id, cluster_size) for every doc that appears
    * in at least one pair; cluster_id = min doc id in the component (the
    * canonical keeper), deterministic for the SQL oracle.
    */
  /** Checkpoint, keeping a handle to the persisted RDD: localCheckpoint
    * buries it inside the resulting LogicalRDD where Dataset.unpersist
    * can't reach (the cache manager has no entry), so each round's blocks
    * would sit in the block manager until a driver GC collects the dropped
    * Dataset — N rounds of dead blocks on a long-lived app. With the
    * handle, an iterative loop frees round i as soon as round i+1 is
    * materialized; live checkpoint state is ONE round's frame. */
  private[operators] def checkpointOwned(df: DataFrame): (DataFrame, Option[org.apache.spark.rdd.RDD[_]]) = {
    val ck = df.localCheckpoint() // eager: truncates next round's lineage
    val handle = ck.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => Some(lr.rdd)
      case _ => None // plan shape changed across Spark versions: GC path
    }
    (ck, handle)
  }

  def duplicateClusters(pairs: DataFrame, maxIters: Int = 25): DataFrame = {
    val edges = pairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .repartition(col("src"))
      .persist()

    // Overflow-proof convergence measure: labels only decrease, so the
    // decimal-accumulated label sum strictly decreases until fixpoint.
    def labelSumOf(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("cluster_id").cast("decimal(38,0)"))).head().getDecimal(0)

    var (labels, labelsRdd) = checkpointOwned(
      edges.select(col("src").as("doc_id")).distinct()
        .withColumn("cluster_id", col("doc_id")))
    var labelSum = labelSumOf(labels)
    var converged = false
    var iters = 0
    while (!converged && iters < maxIters) {
      val pushed = edges.join(labels, edges("src") === labels("doc_id"))
        .select(col("dst").as("doc_id"), col("cluster_id"))
      val (next, nextRdd) = checkpointOwned(
        labels.select("doc_id", "cluster_id").union(pushed)
          .groupBy("doc_id").agg(min("cluster_id").as("cluster_id")))
      val nextSum = labelSumOf(next)
      labelsRdd.foreach(_.unpersist(blocking = false)) // prev round: consumed
      labels = next
      labelsRdd = nextRdd
      converged = nextSum.compareTo(labelSum) == 0
      labelSum = nextSum
      iters += 1
    }
    edges.unpersist()
    // The FINAL round's checkpoint backs the returned frame and stays
    // persisted; the ContextCleaner reclaims it once the result is dropped.

    val sizes = labels.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "cluster_id")
      .select("doc_id", "cluster_id", "cluster_size")
  }

  /** Connected components by alternating large-star / small-star rounds
    * (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii — "Connected
    * Components in MapReduce and Beyond", SoCC'14). Same output contract
    * as [[duplicateClusters]]: (doc_id, cluster_id, cluster_size) with
    * cluster_id = min doc id in the component.
    *
    * Why a second algorithm: label propagation needs DIAMETER rounds —
    * fine for shallow near-dup graphs (dup chains, boilerplate stars),
    * pathological for long chains (crawl snapshots that drift gradually:
    * v1~v2~...~v1000 is a 1000-round graph). The star rounds contract
    * long paths geometrically, converging in O(log n) rounds regardless
    * of diameter.
    *
    * Each round is two phases, each ONE groupBy shuffle + ONE join — no
    * per-node neighbor lists are ever collected, so a 10M-edge star
    * component costs O(E) per round, not O(E) memory in one task:
    *  - large-star: for every node u with neighborhood G(u), link each
    *    strictly-larger neighbor to m = min(G(u) + u). Directed edges
    *    point "down" toward smaller ids without ever lengthening paths.
    *  - small-star: orient every edge big->small; link each neighbor
    *    (all now <= u) and u itself to m. Flattens the short side.
    *
    * Convergence: the edge multiset is a fixpoint exactly when the graph
    * is a forest of stars rooted at component minima. Detected by an
    * order-invariant digest (count + decimal sum of xxhash64(a,b)) —
    * one tiny aggregate per round, same cost shape as the label-sum
    * check in [[duplicateClusters]]. Rounds are checkpoint-owned like
    * label propagation: lineage truncated each round, previous round's
    * blocks freed as soon as the next is materialized.
    *
    * Input contract: pairs (doc_a, doc_b) with doc_a != doc_b (self-pairs
    * are dropped; a doc with only a self-pair has no duplicate partner).
    */
  def duplicateClustersStar(pairs: DataFrame, maxIters: Int = 20): DataFrame =
    duplicateClustersStarStats(pairs, maxIters)._1

  /** [[duplicateClustersStar]] plus run statistics: (labels, rounds
    * executed, converged). The round count is what makes the O(log n)
    * guarantee empirically checkable — a path graph of depth 2^k must
    * converge in O(k) rounds where label propagation needs O(2^k). */
  def duplicateClustersStarStats(pairs: DataFrame,
                                 maxIters: Int = 20): (DataFrame, Int, Boolean) = {
    // digest: (#edges, sum of per-edge hash) — equal across rounds iff the
    // edge set is unchanged (64-bit collision odds are negligible and the
    // check is deterministic for given data).
    def digestOf(df: DataFrame): (Long, java.math.BigDecimal) = {
      val r = df.agg(count(lit(1)),
        sum(xxhash64(col("a"), col("b")).cast("decimal(38,0)"))).head()
      (r.getLong(0), r.getDecimal(1))
    }

    // large-star: m(u) = min over u's symmetric neighborhood and u itself;
    // every neighbor v > u re-links to m(u). Self-loops vanish. The
    // output is deliberately NOT deduplicated: it only feeds smallStar,
    // whose min-aggregation is multiplicity-blind and whose final
    // distinct restores set-ness — so each ROUND's edge set (digest,
    // convergence, labels) is identical while the round pays one less
    // corpus-sized exchange. Duplicates are bounded: each symmetric edge
    // emits at most one row.
    def largeStar(edges: DataFrame): DataFrame = {
      val sym = edges.select(col("a").as("u"), col("b").as("v"))
        .union(edges.select(col("b").as("u"), col("a").as("v")))
      val mins = sym.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      sym.join(mins, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("b"))
        .where(col("a") =!= col("b"))
    }

    // small-star: orient big->small so G(u) holds only smaller ids; both
    // the neighbors and u itself re-link to m(u) = min(G(u)).
    def smallStar(edges: DataFrame): DataFrame = {
      val oriented = edges.select(
        greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      val mins = oriented.groupBy("u").agg(min(col("v")).as("m"))
      oriented.join(mins, "u")
        .select(col("v").as("a"), col("m").as("b"))
        .union(mins.select(col("u").as("a"), col("m").as("b")))
        .where(col("a") =!= col("b")).distinct()
    }

    var (edges, edgesRdd) = checkpointOwned(
      pairs.select(col("doc_a").as("a"), col("doc_b").as("b"))
        .where(col("a") =!= col("b")).distinct())
    var digest = digestOf(edges)
    var converged = edges.isEmpty
    var iters = 0
    while (!converged && iters < maxIters) {
      val (next, nextRdd) = checkpointOwned(smallStar(largeStar(edges)))
      val nextDigest = digestOf(next)
      edgesRdd.foreach(_.unpersist(blocking = false)) // prev round: consumed
      edges = next
      edgesRdd = nextRdd
      converged = nextDigest == digest
      digest = nextDigest
      iters += 1
    }

    // Fixpoint edges form stars (a -> component-min root). Non-roots each
    // appear exactly once on the a-side; roots only on the b-side. If
    // maxIters was hit BEFORE the fixpoint, that star-forest shape is not
    // guaranteed — a node can still hold several edges and would emit
    // duplicate doc_id rows with conflicting cluster_ids, silently
    // breaking the one-row-per-doc contract (label propagation's
    // non-converged failure mode is merely stale labels). Collapse
    // defensively in that case; converged runs keep the shuffle-free path.
    val rawLabels = edges.select(col("a").as("doc_id"), col("b").as("cluster_id"))
      .union(edges.select(col("b").as("doc_id"), col("b").as("cluster_id")).distinct())
    val labels =
      if (converged) rawLabels
      else {
        System.err.println(s"[graft] duplicateClustersStar: no fixpoint " +
          s"after $maxIters rounds; collapsing labels to min(cluster_id)")
        rawLabels.groupBy("doc_id").agg(min(col("cluster_id")).as("cluster_id"))
          .select(col("doc_id"), col("cluster_id"))
      }
    val sizes = labels.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
    (labels.join(sizes, "cluster_id")
      .select("doc_id", "cluster_id", "cluster_size"), iters, converged)
  }

  /** Corpus-wide PARAGRAPH dedup (the C4 `dedupe_lines` semantics): split
    * every document on `sep`, keep exactly ONE occurrence of each unique
    * paragraph across the whole corpus — the first in (doc, position)
    * order — and reassemble the surviving paragraphs back into documents
    * in their original order. Documents that lose every paragraph drop
    * out entirely (C4 drops empties).
    *
    * Scale shape: paragraphs shuffle ONCE on their content digest for the
    * winner aggregation (`min(struct(doc, pos))` — map-side partial, so a
    * boilerplate paragraph duplicated a billion times arrives at its
    * reducer as one row per upstream partition, never a hot-key row
    * flood); the winner set joins back on the same digest key (the
    * exchange is reused — both sides hash-partition on `__ph`), and
    * reassembly is one shuffle on the doc id. No window ever sees the
    * corpus-wide posting list of a hot paragraph.
    *
    * Output: (doc_id, cleaned_text, n_kept) for docs with >= 1 surviving
    * paragraph.
    */
  def paragraphDedup(docs: DataFrame, idCol: String, textCol: String,
                     sep: String = "\n"): DataFrame = {
    val paras = docs
      .select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as(Seq("para_idx", "para")))
    val hashed = paras.withColumn("__ph", md5(col("para")))
    val winners = hashed
      .groupBy("__ph")
      .agg(min(struct(col("doc_id"), col("para_idx"))).as("__w"))
      .select(col("__ph"), col("__w.doc_id").as("__wdoc"),
        col("__w.para_idx").as("__widx"))
    // join on the digest ALONE (winners are unique per __ph, so the
    // position filter afterwards is equivalent to a 3-key join) — both
    // sides hash-partition on __ph, so the winner agg's exchange is
    // reusable and the join never re-keys; at broadcastable winner sizes
    // AQE still picks BHJ
    hashed.join(winners, Seq("__ph"))
      .where(col("doc_id") === col("__wdoc") &&
        col("para_idx") === col("__widx"))
      .groupBy("doc_id")
      .agg(
        array_join(transform(array_sort(
          collect_list(struct(col("para_idx"), col("para")))),
          x => x("para")), sep).as("cleaned_text"),
        count(lit(1)).as("n_kept"))
  }

  /** Corpus CHANGELOG between two releases (D69 — what every dataset-card
    * "changes since v1" section is built from, and what incremental
    * consumers diff before reprocessing): per doc id, added / removed /
    * modified / unchanged, decided by content digest. ONE id-keyed
    * full-outer join — both sides reduce to (id, md5) projections first,
    * so the shuffle moves 48-byte rows, never document text; at 100 TB
    * the diff costs two scans plus an id exchange. */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame,
                 idCol: String, textCol: String): DataFrame = {
    // Presence is keyed on a constant marker from each side, NOT on digest
    // nullability: md5(NULL) is NULL, so a present doc with NULL text would
    // otherwise misreport as added/removed. NULL text digests to the
    // sentinel "null" — 4 chars, so it can never collide with a real
    // 32-hex-char md5, and NULL-vs-non-NULL text compares as modified
    // (null-safe <=> below covers the seatbelt case of both-null digests).
    def digest(c: org.apache.spark.sql.Column) =
      when(c.isNull, lit("null")).otherwise(md5(c.cast("binary")))
    val o = oldDocs.select(col(idCol), lit(true).as("__old_p"),
      digest(col(textCol)).as("old_md5"))
    val n = newDocs.select(col(idCol), lit(true).as("__new_p"),
      digest(col(textCol)).as("new_md5"))
    o.join(n, Seq(idCol), "full_outer")
      .select(col(idCol), col("old_md5"), col("new_md5"),
        when(col("__old_p").isNull, "added")
          .when(col("__new_p").isNull, "removed")
          .when(!(col("old_md5") <=> col("new_md5")), "modified")
          .otherwise("unchanged").as("status"))
  }
}
