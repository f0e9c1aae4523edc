package graft.tools

import org.apache.spark.sql.functions._

/** Interleaved A/B of the tokenize forms — `graft_clean_tokens` (codegen
  * kernel) vs `filter(split(text,' '), len>0)` (CodegenFallback HOF) —
  * evaluated through real Catalyst execution over a deterministic
  * generated corpus, alternating A/B/A/B within one JVM so box-window
  * drift hits both forms equally (the r15 evidence run; per-QUERY walls
  * on this class of box swing ±40% between windows). Outputs are
  * asserted equal before timing.
  *
  * Usage: runMain graft.tools.TokBench [rows] [reps]
  * Diagnostic main; not part of the library surface.
  */
object TokBench {
  def main(args: Array[String]): Unit = {
    val rows = if (args.length > 0) args(0).toInt else 200000
    val reps = if (args.length > 1) args(1).toInt else 5
    val spark = graft.GraftSession.local()
    // word-like text, ~60 tokens/row, stray double spaces included
    val base = spark.range(rows).select(col("id"),
      concat_ws(" ", (0 until 60).map(i =>
        concat(lit("w"), pmod(xxhash64(col("id"), lit(i)), lit(997)),
          when(pmod(xxhash64(col("id"), lit(i + 1000)), lit(7)) === 0, lit(" "))
            .otherwise(lit("")))): _*).as("text"))
      .localCheckpoint(true) // timing excludes the generator
    val kernel = base.select(expr("graft_clean_tokens(text)").as("w"))
    val hof = base.select(
      filter(split(col("text"), " "), x => length(x) > 0).as("w"))
    // equality gate
    val diff = base.select(expr("graft_clean_tokens(text)").as("a"),
      filter(split(col("text"), " "), x => length(x) > 0).as("b"))
      .where(not(col("a") <=> col("b"))).count()
    require(diff == 0, s"forms disagree on $diff rows")
    def time(df: org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    time(kernel); time(hof) // warm both
    val (ks, hs) = (Array.newBuilder[Double], Array.newBuilder[Double])
    (1 to reps).foreach { _ => ks += time(kernel); hs += time(hof) }
    def med(a: Array[Double]) = a.sorted.apply((a.length - 1) / 2)
    println(f"[tokbench] rows=$rows reps=$reps kernel=${med(ks.result())}%.3fs " +
      f"hof=${med(hs.result())}%.3fs speedup=${med(hs.result()) / med(ks.result())}%.2fx")
    spark.stop()
  }
}
