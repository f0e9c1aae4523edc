package graft.operators

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.QueryProfile.withPhase

/** Distributed suffix-array construction by prefix doubling (Manber &
  * Myers 1990, the distributed formulation used for corpus-scale
  * exact-substring dedup — Lee et al. 2022 build exactly this over the
  * corpus concatenation). Every (doc, position) suffix gets an integer
  * rank: the DENSE rank of the suffix string among all corpus suffixes in
  * lexicographic order, identical suffixes (cross-doc repeats) sharing a
  * rank. The suffix array/rank is the index structure behind
  * arbitrary-length maximal-match queries, of which the fixed-L detector
  * ([[ExactSubstr]]) is the one-shot special case.
  *
  * Prefix doubling with ACTIVE-GROUP refinement (the Larsson/Sadakane
  * qsufsort insight, distributed): after round r, suffixes are ordered by
  * their first `m * 2^r` characters; a suffix whose rank is already
  * UNIQUE can never move again, so each round re-ranks ONLY the rows
  * still inside tied groups. Natural corpora resolve geometrically (most
  * positions are distinguished after 1-2 rounds; the doubling depth is
  * driven by a tiny tail of long repeated spans), so per-round shuffle
  * volume collapses instead of staying O(n) for log(maxDocLen) rounds.
  *
  * In-loop representation: `base` = |{suffixes strictly smaller}| (the
  * 0-based rank of the row's GROUP — tied suffixes share it). Unlike the
  * dense rank, `base` of a resolved row is INVARIANT under refinement of
  * other groups (splitting a group renumbers nothing outside it), which
  * is what makes skip-the-resolved sound. A tied group with old base r
  * ordered by the distance-k rank refines to sub-blocks at
  * `r + (rows before the sub-block within the group)`. One final
  * distributed dense-rank pass converts `base` to the 1-based dense
  * `suffix_rank` contract (the two orders are identical by construction).
  *
  * Each round pairs active rows with the rank at distance k two ways,
  * chosen by the exact active count:
  *  - LARGE active set: one doc-keyed exchange + in-partition sort of the
  *    full frame, then a per-doc array walk emits (base[p], base[p+k])
  *    in-row (positions are dense 1..len per doc, so no self-join — the
  *    join form this replaced shuffled and sorted BOTH sides).
  *  - SMALL active set (the long tail): the active rows broadcast as a
  *    probe and the checkpointed frame STREAMS — zero exchange, zero
  *    sort; end-of-doc lookups resolve against a narrow doc-length scan.
  *
  * The distributed rank passes are range-partition + in-partition walks:
  * `repartitionByRange` colocates equal keys, a first pass collects one
  * summary row per partition (row counts / group-boundary carries — the
  * ONLY driver state), and a second walk assigns ranks from broadcast
  * offsets. Rounds are localCheckpoint-owned ([[Dedup.checkpointOwned]]):
  * round i's blocks free as soon as round i+1 materializes.
  *
  * Character order is by Java char code (= codepoint for the BMP), which
  * matches byte-order collation for ASCII corpora — the oracle's ORDER BY
  * on suffix strings. Non-ASCII corpora rank consistently but against
  * UTF-16 code-unit order, not UTF-8 byte order; key on binary upstream
  * if byte order matters.
  */
object SuffixArray {

  /** Active sets at or below this row count pair by broadcast probe
    * instead of the full-frame doc-keyed walk (~24 B per probe row; 1M
    * rows ~ 24 MB broadcast — safely under the executor budget that the
    * LSH family's broadcast caps already assume). */
  private[operators] val BroadcastPairLimit = 1000000L

  /** Active sets at or below this row count leave the distributed loop
    * entirely: the remaining doubling rounds run as a DRIVER-LOCAL walk
    * over the collected active rows (~24 B each; 2^19 rows ~ 25 MB of
    * bounded driver state — the same order as a round's broadcast probe
    * already puts on the driver), with at most ONE corpus-frame streaming pass
    * per round to fetch resolved ranks the local set cannot answer — and
    * zero passes on rounds whose probes all land inside the active set
    * or past doc ends. The distributed form instead paid, per round, the
    * broadcast pairing plus a FULL-FRAME union + localCheckpoint rewrite
    * to update a vanishing set of rows; natural corpora spend most of
    * their doubling depth in exactly this long tiny tail (the
    * Larsson/Sadakane tail), so at corpus scale this removes
    * O(log maxRepeatLen) corpus-size materializations. Refinement
    * arithmetic is identical to [[refineLocal]] (group by old base,
    * order by the distance-k rank, offset within group), so ranks are
    * bit-equal to the distributed path's. */
  private[operators] val DriverFoldLimit = 524288L

  /** Cap on the walk's future-probe prefetch set (see the prefetch-fold
    * in [[suffixRanks]]): one corpus pass fetches the resolved ranks at
    * every position the remaining doubling rounds can probe, as soon as
    * that exact set fits here — ~24 B/entry of bounded driver state at
    * the cap, the same order the walk's own collect already holds. */
  private[operators] val PrefetchLimit = 1 << 20

  /** (doc_id, p (1-based), suffix_rank) for every suffix of every doc —
    * `suffix_rank` the 1-based dense lexicographic rank corpus-wide.
    * `broadcastPairLimit` overrides the walk-vs-broadcast pairing switch
    * (tests force each path; production uses the default). */
  def suffixRanks(docs: DataFrame, idCol: String, textCol: String,
                  broadcastPairLimit: Long = BroadcastPairLimit,
                  driverFoldLimit: Long = DriverFoldLimit): DataFrame = {
    val spark = docs.sparkSession
    val d = docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .where(length(col("text")) > 0)

    // One stats pass: the longest doc bounds the round count, and an
    // all-ASCII corpus unlocks the WIDE round-0 pack (9 chars x 7 bits vs
    // 3 chars x 16 bits — log2(3) fewer doubling rounds, i.e. ~1.6 fewer
    // corpus-wide shuffles, at every scale; both packs rank identically
    // against the final suffix order, so the switch is invisible to the
    // oracle). \A..\z anchors, NOT ^..$: Java's $ matches before a FINAL
    // line terminator, so "abc " would pass ^[\x00-\x7F]*$ and a doc
    // whose only non-ASCII char is a trailing U+0085/U+2028/U+2029 would
    // select the 7-bit pack, folding char 133/8232/8233 into a 7-bit
    // digit (order-breaking, Long-overflowing) — ADVICE r14.
    val statsRow = d.agg(max(length(col("text"))),
      min(when(col("text").rlike("\\A[\\x00-\\x7F]*\\z"), 1).otherwise(0)))
      .collect()(0)
    val maxLen = if (statsRow.isNullAt(0)) 0 else statsRow.getInt(0)
    if (maxLen == 0)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id LONG, p LONG, suffix_rank LONG"))
    val m = if (statsRow.getInt(1) == 1) 9 else 3

    // round 0: rank by the first m characters at once, packed into one
    // order-preserving long per position (0-padded past the doc end so a
    // prefix sorts before its extensions) by the O(len) rolling kernel —
    // the HOF transform it replaces paid an O(position) substring walk
    // per char (O(len^2) per document).
    val initial = d
      .select(col("doc_id"),
        posexplode(expr(s"graft_sa_init_keys(text, $m)")).as(Seq("p0", "key0")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("p"),
        col("key0").as("r1"), lit(-1L).as("r2"))
    val saDebug = sys.env.contains("SPARK_GRAFT_SA_DEBUG")
    var (cur, curRelease, active, _) =
      withPhase(spark, "sa: round0 base rank")(baseRank(initial, refineMode = false))
    if (saDebug) System.err.println(s"[sa] round0 active=$active")
    // narrow doc-length table for the broadcast pairing's end-of-doc probe
    val lens = d.select(col("doc_id"), length(col("text")).cast("long").as("len"))

    // Rounds run while any group is still tied, the doubled depth can
    // still distinguish something, AND the last round actually split a
    // block. A zero-split round means the (r1, r2) partition of suffixes
    // is a fixpoint of doubling — the classic stall-implies-final
    // argument: if every tied group agrees on the rank at distance k,
    // then (inductively, since partition-by-2k == partition-by-k) it
    // agrees at every larger distance too. Identical cross-doc suffixes
    // (duplicate documents — the common case for a dedup corpus) stall
    // exactly this way; without the exit they would stay active until
    // k >= maxLen, paying a full-frame exchange per round once the stuck
    // set exceeds the broadcast limit (ADVICE r14). A naive
    // active-count-stall check would be UNSOUND (a 4-row block splitting
    // 2+2 keeps the count unchanged); the split count is the sound
    // signal.
    var k = m.toLong
    var stalled = false
    // Tail threshold for the driver-local fold (see [[DriverFoldLimit]]);
    // a caller forcing the walk path (broadcastPairLimit < 0) disables it.
    val localLimit = math.min(driverFoldLimit, broadcastPairLimit)
    while (k < maxLen && active > 0 && !stalled && active > localLimit) {
      withPhase(spark, s"sa: round k=$k active=$active") {
        val small = active <= broadcastPairLimit
        val paired =
          if (small) pairedActiveBroadcast(cur, lens, k)
          else pairedActiveWalk(cur, k)
        // small active sets refine LAZILY with per-group local walks (zero
        // extra jobs — the merged checkpoint below is the materialization,
        // and accumulators carry the surviving-active and split counts out
        // of it); large ones keep the sampled range partitioning, which can
        // split a hot group across partitions via the r2 key.
        val actAcc =
          if (small) Some(spark.sparkContext.longAccumulator("sa_active")) else None
        val splitAcc =
          if (small) Some(spark.sparkContext.longAccumulator("sa_splits")) else None
        val (upd, updRelease, updActive, updSplits) =
          if (small) (refineLocal(paired, actAcc.get, splitAcc.get), () => (), -1L, -1L)
          else baseRank(paired, refineMode = true)
        // resolved rows keep their (final) base; refined actives replace.
        val merged = cur.where(!col("act"))
          .select("doc_id", "p", "base", "act")
          .union(upd.select("doc_id", "p", "base", "act"))
        val (next, nextRdd) = Dedup.checkpointOwned(merged) // eager
        updRelease() // upd's checkpoint: consumed by the merged checkpoint
        curRelease() // previous round's checkpoint: superseded
        cur = next
        curRelease = () => nextRdd.foreach(_.unpersist(blocking = false))
        // the eager checkpoint above ran the refine walk, so the accumulators
        // hold the surviving-active and split counts; a task RETRY can only
        // INFLATE them, which at worst runs an extra (tiny) no-op round or
        // skips the early exit — it can never corrupt ranks, end the loop
        // early, or make a splitting round read as zero splits.
        active = if (updActive >= 0) updActive else actAcc.get.value
        stalled = (if (updSplits >= 0) updSplits else splitAcc.get.value) == 0
        if (saDebug) System.err.println(s"[sa] round k=$k active=$active stalled=$stalled")
        k *= 2
      }
    }

    // Driver-local tail (see [[DriverFoldLimit]]): the surviving active
    // set is small enough to hold as bounded driver state, so the
    // remaining rounds refine locally — per round, at most one streaming
    // broadcast-probe pass over the (unchanged) corpus frame to fetch
    // resolved ranks, and NO full-frame rewrite. Rank arithmetic is
    // refineLocal's exactly; the final frame unions the untouched
    // resolved rows with the locally-finished actives.
    if (k < maxLen && active > 0 && !stalled && active <= localLimit) {
      import spark.implicits._
      val collectPhase = s"sa: local tail collect active=$active"
      val aRows = withPhase(spark, collectPhase) {
        cur.where(col("act"))
          .select(col("doc_id"), col("p"), col("base"))
          .as[(Long, Long, Long)].collect()
      }
      val n = aRows.length
      val aDoc = new Array[Long](n)
      val aP = new Array[Long](n)
      val aBase = new Array[Long](n)
      var i = 0
      while (i < n) {
        aDoc(i) = aRows(i)._1; aP(i) = aRows(i)._2; aBase(i) = aRows(i)._3
        i += 1
      }
      // (doc, p) -> row-index lookup as binary search over an index
      // permutation sorted by (doc, p): the walk probes this millions of
      // times per round and the tuple-keyed HashMap it replaces allocated
      // a boxed key PER PROBE (measured as ~1s of the sf0.1 driver gap);
      // packed-long keys would be O(1) but doc_id * (maxLen+1) can
      // overflow — the two-long compare is exact at any id range.
      val byKey: Array[Integer] = Array.tabulate(n)(Integer.valueOf)
      java.util.Arrays.sort(byKey, new java.util.Comparator[Integer] {
        override def compare(x: Integer, y: Integer): Int = {
          val c = java.lang.Long.compare(aDoc(x), aDoc(y))
          if (c != 0) c else java.lang.Long.compare(aP(x), aP(y))
        }
      })
      val kDoc = new Array[Long](n); val kP = new Array[Long](n)
      val kIdx = new Array[Int](n)
      i = 0
      while (i < n) {
        val x = byKey(i).intValue()
        kDoc(i) = aDoc(x); kP(i) = aP(x); kIdx(i) = x
        i += 1
      }
      def posIdx(d: Long, q: Long): Int = {
        var lo = 0; var hi = n - 1
        while (lo <= hi) {
          val mid = (lo + hi) >>> 1
          var c = java.lang.Long.compare(kDoc(mid), d)
          if (c == 0) c = java.lang.Long.compare(kP(mid), q)
          if (c == 0) return kIdx(mid)
          else if (c < 0) lo = mid + 1 else hi = mid - 1
        }
        -1
      }
      // doc lengths for the active docs only (bounded by |active set|)
      val lenMap = withPhase(spark, collectPhase) {
        lens.join(broadcast(aDoc.distinct.toSeq.toDF("doc_id")), "doc_id")
          .as[(Long, Long)].collect().toMap
      }
      var activeIdx = Array.range(0, n)
      // Prefetch-fold (r15, guide §1.2 — fewer corpus passes): once the
      // walk's FUTURE probe set fits [[PrefetchLimit]], ONE corpus-frame
      // pass fetches the resolved rank at every position any remaining
      // round can probe (p + k·2^j, clipped to the doc end, minus
      // positions inside the active set, whose live local base answers
      // them). Resolved corpus rows never change, so the prefetched
      // values stay valid for every later round — the rest of the walk
      // touches the cluster not at all. The per-round form paid one full
      // corpus pass per doubling round for a vanishing need set (sf0.1
      // measured: rounds k=36..288 fetched 23/23/23/12 rows through four
      // separate scans); at corpus scale each of those scans is
      // corpus-sized. State is one boxed map of ≤ PrefetchLimit entries —
      // the same order of bounded driver state the walk's own collect
      // already holds.
      var prefetched: java.util.HashMap[(Long, Long), Long] = null
      while (k < maxLen && activeIdx.nonEmpty && !stalled) {
        if (prefetched == null) {
          // Build the exact future probe set, bailing past the cap; the
          // O(|active| x remaining-rounds) driver scan is bounded by
          // DriverFoldLimit x log(maxLen) iterations per attempt.
          val probes = new java.util.HashSet[(Long, Long)]()
          var overflow = false
          var i2 = 0
          while (i2 < activeIdx.length && !overflow) {
            val idx = activeIdx(i2)
            val d0 = aDoc(idx); val len = lenMap(d0)
            var kk = k
            while (kk < maxLen && !overflow) {
              val q = aP(idx) + kk
              if (q <= len && posIdx(d0, q) < 0) {
                probes.add((d0, q))
                if (probes.size > PrefetchLimit) overflow = true
              }
              kk *= 2
            }
            i2 += 1
          }
          if (!overflow) {
            prefetched = new java.util.HashMap[(Long, Long), Long](
              probes.size * 2)
            if (!probes.isEmpty) {
              import scala.jdk.CollectionConverters._
              val probeRows = probes.asScala.toSeq
              withPhase(spark, s"sa: local tail prefetch k=$k probes=${probeRows.size}") {
                cur.join(broadcast(probeRows.toDF("fd", "fp")),
                    col("doc_id") === col("fd") && col("p") === col("fp"))
                  .select(col("doc_id"), col("p"), col("base"))
                  .as[(Long, Long, Long)].collect()
              }.foreach(t => prefetched.put((t._1, t._2), t._3))
            }
          }
        }
        // distance-k rank per active row: from the local set when the
        // probed position is itself active, -1 past the doc end, else
        // from the prefetch (or a per-round fetch while the future probe
        // set is still above the cap) — resolved rows never change, so
        // cur's value is current either way.
        val r2 = new Array[Long](n)
        val need = Seq.newBuilder[(Long, Long)]
        for (idx <- activeIdx) {
          val q = aP(idx) + k
          if (q > lenMap(aDoc(idx))) r2(idx) = -1L
          else {
            val j = posIdx(aDoc(idx), q)
            if (j >= 0) r2(idx) = aBase(j)
            else if (prefetched != null) r2(idx) = prefetched.get((aDoc(idx), q))
            else { need += ((aDoc(idx), q)); r2(idx) = Long.MinValue }
          }
        }
        val needRows = need.result()
        if (needRows.nonEmpty) {
          val fetched = withPhase(spark, s"sa: local tail fetch k=$k need=${needRows.size}") {
            cur.join(broadcast(needRows.toDF("fd", "fp")),
                col("doc_id") === col("fd") && col("p") === col("fp"))
              .select(col("doc_id"), col("p"), col("base"))
              .as[(Long, Long, Long)].collect()
          }.map(t => (t._1, t._2) -> t._3).toMap
          for (idx <- activeIdx; if r2(idx) == Long.MinValue)
            r2(idx) = fetched((aDoc(idx), aP(idx) + k))
        }
        // refine each still-tied group: order by the distance-k rank,
        // base = old group base + rows before the row's block within the
        // group — refineLocal's rule verbatim, on old bases throughout.
        // One global comparator sort by (old base, r2) makes groups AND
        // blocks contiguous, so a single linear pass assigns every new
        // base — the groupBy + per-group sortBy it replaces built a boxed
        // map over the whole active set each round (the dominant driver
        // cost of the first walk rounds at sf0.1).
        var splits = 0L
        val still = Array.newBuilder[Int]
        val order: Array[Integer] =
          new Array[Integer](activeIdx.length)
        var oi = 0
        while (oi < activeIdx.length) {
          order(oi) = Integer.valueOf(activeIdx(oi)); oi += 1
        }
        java.util.Arrays.sort(order, new java.util.Comparator[Integer] {
          override def compare(x: Integer, y: Integer): Int = {
            val c = java.lang.Long.compare(aBase(x), aBase(y))
            if (c != 0) c else java.lang.Long.compare(r2(x), r2(y))
          }
        })
        val newBase = new Array[Long](n)
        val m2 = order.length
        var gs = 0 // group start (old-base boundary)
        var j = 0
        while (j < m2) {
          val gBase = aBase(order(gs).intValue())
          // block = run of equal r2 within the group
          var e = j + 1
          while (e < m2 && aBase(order(e).intValue()) == gBase &&
            r2(order(e).intValue()) == r2(order(j).intValue())) e += 1
          if (j > gs) splits += 1
          val tied = e - j > 1
          var b = j
          while (b < e) {
            val idx = order(b).intValue()
            newBase(idx) = gBase + (j - gs)
            if (tied) still += idx
            b += 1
          }
          j = e
          if (j < m2 && aBase(order(j).intValue()) != gBase) gs = j
        }
        for (idx <- activeIdx) aBase(idx) = newBase(idx)
        stalled = splits == 0
        activeIdx = still.result()
        if (saDebug) System.err.println(
          s"[sa] local k=$k active=${activeIdx.length} stalled=$stalled t=${System.nanoTime() / 1000000}")
        k *= 2
      }
      if (saDebug) System.err.println(s"[sa] walk done t=${System.nanoTime() / 1000000}")
      val localDF = (0 until n)
        .map(i => (aDoc(i), aP(i), aBase(i), false))
        .toDF("doc_id", "p", "base", "act")
      if (saDebug) System.err.println(s"[sa] localDF built t=${System.nanoTime() / 1000000}")
      cur = cur.where(!col("act")).select("doc_id", "p", "base", "act")
        .union(localDF)
    }

    // densify: suffix_rank = 1-based dense rank of base. base order ==
    // suffix order with ties exactly on equal groups, so this is a pure
    // representation change, verified by the oracle's raw suffix sort.
    val (out, _, _) = withPhase(spark, "sa: densify") {
      denseRank(cur.select(col("doc_id"), col("p"), col("base").as("r1"),
        lit(-1L).as("r2")))
    }
    curRelease() // the dense result is checkpointed; the base frame is dead
    out
  }

  /** Pairing, full-frame walk form: (doc_id, p, r1 = base[p],
    * r2 = base[p+k] or -1 past the doc end) for every ACTIVE row.
    * Positions are DENSE per document (1..len — every round keeps all of
    * them), so the distance-k lookup needs no (doc_id, p) self-join: ONE
    * doc-keyed exchange + in-partition sort, then a per-doc array walk
    * emits both ranks in-row. The walk buffers one document's bases at a
    * time (len longs — the same per-doc bound round 0's key array already
    * sets; the windowed `lead` alternative was measured 56% SLOWER because
    * WindowExec buffers rows as UnsafeRows per frame). */
  private def pairedActiveWalk(cur: DataFrame, k: Long): DataFrame = {
    val spark = cur.sparkSession
    import spark.implicits._
    cur.select(col("doc_id"), col("p"), col("base"), col("act"))
      .repartition(col("doc_id"))
      .sortWithinPartitions(col("doc_id"), col("p"))
      .as[(Long, Long, Long, Boolean)]
      .mapPartitions { it =>
        val bit = it.buffered
        new Iterator[(Long, Long, Long, Long)] {
          private var doc = 0L
          private var bases: Array[Long] = Array.emptyLongArray
          private var acts: Array[Boolean] = new Array[Boolean](0)
          private var len = 0
          private var emit = 0
          private def advance(): Boolean = {
            while (emit < len && !acts(emit)) emit += 1
            emit < len
          }
          override def hasNext: Boolean = {
            while (!advance()) {
              if (!bit.hasNext) return false
              // buffer the next document (rows arrive p-sorted, 1..len)
              doc = bit.head._1
              var ba = bases // reuse buffers when they fit
              var ac = acts
              var n = 0
              while (bit.hasNext && bit.head._1 == doc) {
                val row = bit.next()
                val idx = (row._2 - 1).toInt
                if (idx >= ba.length) {
                  val cap = math.max(math.max(64, ba.length * 2), idx + 1)
                  ba = java.util.Arrays.copyOf(ba, cap)
                  ac = java.util.Arrays.copyOf(ac, cap)
                }
                ba(idx) = row._3
                ac(idx) = row._4
                if (idx + 1 > n) n = idx + 1
              }
              bases = ba; acts = ac; len = n; emit = 0
            }
            true
          }
          override def next(): (Long, Long, Long, Long) = {
            val i = emit
            emit += 1
            val r2 = if (i + k < len) bases((i + k).toInt) else -1L
            (doc, (i + 1).toLong, bases(i), r2)
          }
        }
      }
      .toDF("doc_id", "p", "r1", "r2")
  }

  /** Pairing, small-active form: the active rows broadcast as the build
    * side of two hash joins and the big frames only STREAM — no exchange
    * or sort of the corpus-sized frame at all. The r2 lookup probes
    * (doc, p + k) against the full frame; active rows whose p + k falls
    * past the doc end (no frame row) are recovered by probing the narrow
    * doc-length table instead of re-streaming the frame. */
  private def pairedActiveBroadcast(cur: DataFrame, lens: DataFrame,
                                    k: Long): DataFrame = {
    val a = cur.where(col("act"))
      .select(col("doc_id"), col("p"), col("base").as("r1"))
    val probe = a.select(col("doc_id").as("pd"), (col("p") + k).as("pk"),
      col("p").as("pp"), col("r1").as("pr1"))
    val hit = cur
      .join(broadcast(probe),
        col("doc_id") === col("pd") && col("p") === col("pk"))
      .select(col("doc_id"), col("pp").as("p"), col("pr1").as("r1"),
        col("base").as("r2"))
    val miss = lens
      .join(broadcast(probe), col("doc_id") === col("pd") &&
        col("pk") > col("len"))
      .select(col("doc_id"), col("pp").as("p"), col("pr1").as("r1"),
        lit(-1L).as("r2"))
    hit.union(miss)
  }

  /** Small-active-set refinement: groups hash-partition WHOLE by r1 (the
    * old group base), so base = r1 + (rows before the row's (r1, r2)
    * block within the group) and act = (shares key with a neighbor) are
    * both partition-local — no global offsets, no carry chain, no
    * sampling pass, and the frame is returned LAZY so the caller's merged
    * checkpoint is its only materialization. The trade-off against the
    * range form is that a single tied group lands in one task (fine below
    * [[BroadcastPairLimit]] rows; the large-active path keeps the sampled
    * range partitioning that can split hot groups by r2). */
  private def refineLocal(paired: DataFrame,
                          actAcc: org.apache.spark.util.LongAccumulator,
                          splitAcc: org.apache.spark.util.LongAccumulator): DataFrame = {
    val spark = paired.sparkSession
    import spark.implicits._
    paired.select(col("doc_id"), col("p"), col("r1"), col("r2"))
      .repartition(col("r1"))
      .sortWithinPartitions(col("r1"), col("r2"))
      .as[(Long, Long, Long, Long)]
      .mapPartitions { it =>
        new Iterator[(Long, Long, Long, Boolean)] {
          private var held: (Long, Long) = null // (doc_id, p)
          private var heldBase = 0L
          private var heldSharesPrev = false
          private var heldKey: (Long, Long) = null
          private var localPos = 0L    // partition-local row index
          private var groupStart = 0L  // local start of current r1 group
          private var blockStart = 0L  // local start of current key block
          private var out: (Long, Long, Long, Boolean) = null
          private def step(): Boolean = {
            while (out == null && it.hasNext) {
              val (docId, p, r1, r2) = it.next()
              val key = (r1, r2)
              if (held == null) {
                groupStart = localPos
                blockStart = localPos
                held = (docId, p); heldKey = key
                heldSharesPrev = false
                heldBase = r1 + (blockStart - groupStart)
              } else {
                val same = key == heldKey
                if (heldSharesPrev || same) actAcc.add(1L)
                out = (held._1, held._2, heldBase, heldSharesPrev || same)
                if (!same) {
                  if (key._1 != heldKey._1) groupStart = localPos
                  // a block boundary INSIDE a group = that group split
                  // this round (groups are whole within a partition here)
                  else splitAcc.add(1L)
                  blockStart = localPos
                }
                held = (docId, p); heldKey = key
                heldSharesPrev = same
                heldBase = r1 + (blockStart - groupStart)
              }
              localPos += 1
            }
            if (out == null && held != null) { // flush the last held row
              if (heldSharesPrev) actAcc.add(1L)
              out = (held._1, held._2, heldBase, heldSharesPrev)
              held = null
            }
            out != null
          }
          override def hasNext: Boolean = out != null || step()
          override def next(): (Long, Long, Long, Boolean) = {
            if (!hasNext) throw new NoSuchElementException
            val r = out; out = null; r
          }
        }
      }
      .toDF("doc_id", "p", "base", "act")
  }

  /** Distributed group-base rank of rows (doc_id, p, r1, r2) by (r1, r2).
    *
    * refineMode = false (round 0): ranks ALL rows globally —
    * base = |{rows with strictly smaller key}|, act = key shared.
    *
    * refineMode = true: the input is the paired ACTIVE rows of tied
    * groups, r1 = the group's old base (shared by the whole group),
    * r2 = the distance-k rank; each (r1, r2) sub-block refines to
    * base = r1 + (rows before the sub-block within its group). Resolved
    * rows are absent and unaffected (their base cannot change — see the
    * class doc), which is what shrinks the pass to the active set.
    *
    * Both modes: range-partition + in-partition sort colocates equal keys
    * and orders groups contiguously; pass 1 collects ONE summary row per
    * partition (row count, active-row count, first/last group and the
    * local start of the last group's run — the carry chain for groups
    * spanning partitions); pass 2 walks with broadcast offsets/carries
    * and a one-row delay so act = (shares key with prev or next) needs no
    * block buffering. Returns the checkpointed frame
    * (doc_id, p, base, act) — in refine mode only the refreshed active
    * rows — a release thunk the caller invokes once the frame's consumer
    * has materialized, the surviving active-row count, and (refine mode
    * only; -1 otherwise) the number of groups that SPLIT this round —
    * block boundaries with an unchanged r1, counted exactly from the
    * pass-1 summaries (in-partition boundaries locally, plus partition
    * seams whose sides share r1 but differ in r2). */
  private def baseRank(input: DataFrame, refineMode: Boolean)
      : (DataFrame, () => Unit, Long, Long) = {
    val spark = input.sparkSession
    import spark.implicits._
    val parted = input
      .select(col("doc_id"), col("p"), col("r1"), col("r2"))
      .repartitionByRange(col("r1"), col("r2"))
      .sortWithinPartitions(col("r1"), col("r2"))
      .persist()

    // pass 1: per-partition summaries, one small tuple each:
    // (pid, nRows, activeRows, firstKey, lastKey, lastRunStart, splits)
    val summaries = parted.select(col("r1"), col("r2")).as[(Long, Long)]
      .mapPartitions { it =>
        val pid = TaskContext.getPartitionId()
        var n = 0L
        var activeRows = 0L
        var splits = 0L
        var firstKey: (Long, Long) = null
        var lastRunStart = 0L
        var prev: (Long, Long) = null
        var prevR1 = Long.MinValue
        var blockLen = 0L
        while (it.hasNext) {
          val cur = it.next()
          if (n == 0) firstKey = cur
          if (cur._1 != prevR1) { lastRunStart = n; prevR1 = cur._1 }
          if (prev != null && cur == prev) {
            blockLen += 1
            if (blockLen == 2) activeRows += 2 else activeRows += 1
          } else {
            // block boundary with unchanged r1 = the group split here
            if (prev != null && cur._1 == prev._1) splits += 1
            blockLen = 1
          }
          prev = cur
          n += 1
        }
        if (n == 0) Iterator.empty
        else Iterator.single((pid, n, activeRows, firstKey, prev,
          lastRunStart, splits))
      }.collect().sortBy(_._1)

    // driver: global row offsets + the group-start carry chain (a group's
    // rows are contiguous across the range-partitioned order, so one
    // (currentGroup, itsGlobalStart) cursor suffices)
    val nParts = parted.rdd.getNumPartitions
    val offsets = new Array[Long](nParts)
    val carryStarts = new Array[Long](nParts)
    var total = 0L
    var activeTotal = 0L
    var splitTotal = 0L
    var curGroup = Long.MinValue
    var curStart = 0L
    var prevLastKey: (Long, Long) = null
    for ((pid, n, act, firstKey, lastKey, lastRunStart, splits) <- summaries) {
      val firstR1 = firstKey._1
      val lastR1 = lastKey._1
      offsets(pid) = total
      carryStarts(pid) =
        if (firstR1 == curGroup) curStart else total
      if (firstR1 == lastR1 && firstR1 == curGroup) {
        // whole partition continues the current group: keep curStart
      } else {
        curGroup = lastR1
        curStart = total + lastRunStart
      }
      total += n
      activeTotal += act
      splitTotal += splits
      // partition seam inside a group whose r2 changes across it: a split
      // the local counters cannot see
      if (prevLastKey != null && firstKey._1 == prevLastKey._1 &&
        firstKey != prevLastKey) splitTotal += 1
      prevLastKey = lastKey
    }
    val offB = spark.sparkContext.broadcast(offsets)
    val carryB = spark.sparkContext.broadcast(carryStarts)

    // pass 2: assign bases with a one-row delay for the act flag
    val ranked = parted.as[(Long, Long, Long, Long)]
      .mapPartitions { it =>
        val pid = TaskContext.getPartitionId()
        val offset = offB.value(pid)
        val carry = carryB.value(pid)
        new Iterator[(Long, Long, Long, Boolean)] {
          // one-row delay: emit held once the next row reveals its act
          private var held: (Long, Long) = null // (doc_id, p)
          private var heldBase = 0L
          private var heldSharesPrev = false
          private var heldKey: (Long, Long) = null
          private var rowPos = offset       // global position of NEXT input row
          private var groupStart = carry    // global start of current r1 group
          private var blockStart = 0L       // global start of current key block
          private var out: (Long, Long, Long, Boolean) = null
          private def baseOf(key: (Long, Long)): Long =
            if (refineMode) key._1 + (blockStart - groupStart) else blockStart
          private def step(): Boolean = {
            while (out == null && it.hasNext) {
              val (docId, p, r1, r2) = it.next()
              val key = (r1, r2)
              if (held == null) {
                // first row of the partition starts a fresh block; its
                // group may have begun in an earlier partition — the
                // initial groupStart is the broadcast carry
                blockStart = rowPos
                held = (docId, p); heldKey = key
                heldSharesPrev = false
                heldBase = baseOf(key)
              } else {
                val same = key == heldKey
                out = (held._1, held._2, heldBase, heldSharesPrev || same)
                if (!same) {
                  if (refineMode && key._1 != heldKey._1)
                    groupStart = rowPos
                  blockStart = rowPos
                }
                held = (docId, p); heldKey = key
                heldSharesPrev = same
                heldBase = baseOf(key)
              }
              rowPos += 1
            }
            if (out == null && held != null) { // flush the last held row
              out = (held._1, held._2, heldBase, heldSharesPrev)
              held = null
            }
            out != null
          }
          override def hasNext: Boolean = out != null || step()
          override def next(): (Long, Long, Long, Boolean) = {
            if (!hasNext) throw new NoSuchElementException
            val r = out; out = null; r
          }
        }
      }
      .toDF("doc_id", "p", "base", "act")
    // eager localCheckpoint materializes before parted is released. This
    // must stay EAGER even in refine mode: pass 2 reads its partition id
    // from TaskContext, which would be union-shifted if the frame first
    // materialized inside the caller's merged union. The refine-mode
    // checkpoint covers only the active rows, so the extra pass is small.
    val (ck, handle) = Dedup.checkpointOwned(ranked)
    parted.unpersist()
    (ck, () => handle.foreach(_.unpersist(blocking = false)), activeTotal,
      if (refineMode) splitTotal else -1L)
  }

  /** Distributed dense rank of rows (doc_id, p, r1, r2) by (r1, r2):
    * returns ((doc_id, p, suffix_rank) localCheckpoint-ed with its owned
    * RDD handle — [[Dedup.checkpointOwned]]'s round discipline — plus the
    * number of distinct keys). Equal keys are colocated by the range
    * partitioner, so local walks + prefix-summed per-partition distinct
    * counts give the global dense rank with only one Long per partition
    * on the driver. Used for the final base -> dense conversion. */
  private def denseRank(paired: DataFrame)
      : (DataFrame, Option[org.apache.spark.rdd.RDD[_]], Long) = {
    val spark = paired.sparkSession
    import spark.implicits._
    val parted = paired
      .select(col("doc_id"), col("p"), col("r1"), col("r2"))
      .repartitionByRange(col("r1"), col("r2"))
      .sortWithinPartitions(col("r1"), col("r2"))
      .persist()

    val counts = parted.select(col("r1"), col("r2")).as[(Long, Long)]
      .mapPartitions { it =>
        val pid = TaskContext.getPartitionId()
        var c = 0L
        var prev: (Long, Long) = null
        while (it.hasNext) {
          val cur = it.next()
          if (prev == null || cur != prev) c += 1
          prev = cur
        }
        Iterator.single((pid, c))
      }.collect().sortBy(_._1)

    val offsets = new Array[Long](counts.length + 1)
    var total = 0L
    for ((pid, c) <- counts) { offsets(pid) = total; total += c }
    val offB = spark.sparkContext.broadcast(offsets)

    val ranked = parted.as[(Long, Long, Long, Long)]
      .mapPartitions { it =>
        val pid = TaskContext.getPartitionId()
        var rank = offB.value(pid)
        var prev: (Long, Long) = null
        it.map { case (doc, p, r1, r2) =>
          if (prev == null || (r1, r2) != prev) rank += 1
          prev = (r1, r2)
          (doc, p, rank)
        }
      }
      .toDF("doc_id", "p", "suffix_rank")
    // eager localCheckpoint materializes before parted is released
    val (ck, handle) = Dedup.checkpointOwned(ranked)
    parted.unpersist()
    (ck, handle, total)
  }
}
