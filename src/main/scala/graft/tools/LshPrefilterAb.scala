package graft.tools

/** Scale A/B for the minhash sketch prefilter (diagnostic main; not part
  * of the library surface): runs d02's minhashNearDupPairs twice at the
  * given sfDir — prefilter ON (default margin 1/4) and prefilter OFF
  * (marginQuarters = -1, the pure candidates-verified-by-exact-Jaccard
  * path) — and verifies the outputs are IDENTICAL (both directions of an
  * except over (doc_a, doc_b, jaccard_e6)).
  *
  * This is the sf1/sf10 spot-verification of the r12 prefilter's
  * soundness claim that the DuckDB oracle cannot give at scale: the
  * unrolled 200-permutation minhash restatement is ~20B intermediate rows
  * at sf1 (the r13 attempt spilled past 60 GB before being stopped), while
  * this check costs two engine passes. The full DuckDB oracle pins the
  * same equality bit-for-bit at sf0.01 (gate d02), so the prefilter-ON
  * path is oracle-anchored there and A/B-extended to scale here. */
object LshPrefilterAb {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val spark = graft.GraftSession.local()
    val docs = graft.Tables.t(spark, sfDir, "documents")
    def pairs(margin: Int) = graft.operators.Dedup
      .minhashNearDupPairs(docs, "doc_id", "text", marginQuarters = margin)
    val on = pairs(graft.operators.Dedup.DefaultSketchMarginQuarters)
    val off = pairs(-1)
    val nOn = on.count(); val nOff = off.count()
    val onlyOn = on.exceptAll(off).count()
    val onlyOff = off.exceptAll(on).count()
    println(s"[lsh-ab] sfDir=$sfDir prefilterOn=$nOn prefilterOff=$nOff " +
      s"onlyOn=$onlyOn onlyOff=$onlyOff " +
      (if (onlyOn == 0 && onlyOff == 0 && nOn == nOff) "IDENTICAL" else "MISMATCH"))
    spark.stop()
    if (onlyOn != 0 || onlyOff != 0 || nOn != nOff) sys.exit(1)
  }
}
