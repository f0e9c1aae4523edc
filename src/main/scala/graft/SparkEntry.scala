package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => TF, TrinoFunctions => TR, VectorFunctions => VF}
import graft.operators.{Dedup, ImportanceWeights, Similarity}
import graft.runner.{IngestRunner, Resource, ResourceWriteProperties}
import graft.tables.{LakeCatalog, LakeTable, PartitionField}

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, with DuckDB-equivalent `oracleSql` for the correctness gate.
  *
  * Conventions shared by every query (for deterministic cross-engine compare):
  *  - every output is totally ordered by a unique key combination;
  *  - no raw timestamp outputs — dates, epoch seconds/micros (bigint) or
  *    strings only, so writer-timezone conventions cannot skew the compare;
  *  - double aggregates accumulate through fixed-scale decimals (exact,
  *    order-independent) before widening back to double;
  *  - ratios of integers are reported as floor-scaled integers (`x*1e6 div y`)
  *    rather than rounded doubles (no rounding-mode coupling).
  */
object SparkEntry {
  import Tables.t

  /** DataFrames persisted while BUILDING a query (cleanStages' shared
    * stages). The persists must outlive the lambda — materialization
    * happens later in the harness — so harnesses (Verify/Bench/specs)
    * call [[releaseCaches]] after consuming each query's result to keep
    * long sessions from accumulating cached stages. */
  private val cacheHandles =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  private def registerCache(df: DataFrame): DataFrame = {
    cacheHandles.add(df.persist())
    df
  }

  /** Unpersist every cache registered while building queries so far. */
  def releaseCaches(): Unit = {
    var df = cacheHandles.poll()
    while (df != null) {
      df.unpersist()
      df = cacheHandles.poll()
    }
  }

  /** Materialize a SHUFFLE-FREE pipeline once before its deterministic
    * output sort. The sort's range-partitioner samples boundary keys by
    * re-executing its child; when the child is a pure map pipeline (the
    * container/codec reads: scan -> decode -> explode, no exchange whose
    * materialized output the sampler could reuse), that re-execution runs
    * the WHOLE decode a second time — a per-job trace showed the m25 decode
    * twice at ~0.8s per pass. The eager localCheckpoint materializes the
    * decoded rows once (they are the small, structured OUTPUT — cheap to
    * hold; the compressed payloads are not retained) and the sort samples
    * the materialized frame. Row-identical to a bare orderBy; each run
    * still computes from the parquet inputs (the checkpoint lives and
    * dies inside a single query execution, reclaimed by the
    * ContextCleaner once the result is dropped). */
  private def sortedOnce(df: DataFrame, cols: String*): DataFrame =
    df.localCheckpoint().orderBy(cols.map(col): _*)

  /** The pinned eval/query slice of the embeddings table — the
    * contract-small broadcast side of every |corpus| x |small-side|
    * Similarity fixture (d55, d56, e18, e19). SCALE-FIXED by
    * construction: `vec_id % 50 === 0` is the eval-suite convention and
    * `vec_id < 500` pins the slice to 10 vectors at EVERY sf, so the
    * sf1/sf0.1 ratio gates measure CORPUS scaling. A bare %-slice grows
    * 10x per sf step and turns the measured ratio quadratic by fixture
    * (VERDICT r11 #4 for d56/e19, r13 #1 for d55/e18), hiding real
    * corpus-side regressions under an inflated ceiling.
    * [[FixtureScaleSpec]] asserts the cardinality contract mechanically
    * across sf dirs; reverting the pin fails that spec AND the d55/e18
    * pinned-fixture plan audits. */
  private[graft] def evalSlice(emb: DataFrame): DataFrame =
    emb.where(col("vec_id") % 50 === 0 && col("vec_id") < 500)

  /** The corpus side of the Similarity fixtures: everything outside the
    * eval-suite convention (vectors with vec_id % 50 == 0 but >= 500
    * belong to NEITHER side at sf >= 0.1 — same stance as d56/e19 since
    * r11). This side GROWS with the data; the operators stream it once. */
  private def corpusSlice(emb: DataFrame): DataFrame =
    emb.where(col("vec_id") % 50 =!= 0)

  /** d58's domain blocklist — a literal, therefore trivially scale-fixed;
    * listed in [[contractSmallSides]] so the fixture contract covers the
    * blocklist class alongside the eval-slice class. */
  private def d58Blocklist(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq("t1.com", "s5.t2.com", "w3.s7.t0.com", "x9.net", "s1.t1.com")
      .toDF("domain")
  }

  /** Contract-small fixture sides (the FixtureScaleSpec gate surface):
    * for each operator whose cost is |corpus| x |small side| — the
    * broadcast-nested-loop Similarity family plus the blocklist join —
    * the DECLARED small side, extracted by the SAME helper the query
    * uses, so the spec and the query cannot drift apart. FixtureScaleSpec
    * asserts each side has IDENTICAL cardinality at sf0.01 and sf0.1
    * (the step where the corpus grows 4x): a side that grows with the
    * corpus would make the measured sf1/sf0.1 ratio quadratic by fixture
    * — the class VERDICT r11 #4 / r13 #1 flagged twice. */
  val contractSmallSides: Map[String, (SparkSession, String) => DataFrame] =
    Map(
      "d55_semantic_decontaminate" ->
        ((s, dir) => evalSlice(t(s, dir, "embeddings"))),
      "d56_hard_negatives" ->
        ((s, dir) => evalSlice(t(s, dir, "embeddings"))),
      "e18_filtered_topk" ->
        ((s, dir) => evalSlice(t(s, dir, "embeddings"))),
      "e19_mmr_rerank" ->
        ((s, dir) => evalSlice(t(s, dir, "embeddings"))),
      "t16_stream_semantic_decontaminate" ->
        ((s, dir) => evalSlice(s.read.parquet(s"$dir/embeddings.parquet"))),
      "d58_blocklist_filter" -> ((s, _) => d58Blocklist(s)),
    )

  /** d48/d48b shared input: the held-out slice scored by d40's quantized
    * NB classifier, re-labeled for the sweep. Factored so the calibration
    * gate and its pre-sweep histogram diagnostic run the IDENTICAL scoring
    * plan. */
  private def d48HeldOutScored(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.operators.NbClassifier.classify(
        docs.select(col("doc_id"), TF.cleanTokens(col("text")).as("tokens"),
          (col("lang") === "en").as("y")),
        "doc_id", "tokens", "y", isTrain = col("doc_id") % 3 =!= 0,
        cacheHook = registerCache)
      .where(col("is_train") === 0L)
      .join(docs.select(col("doc_id"), (col("lang") === "en").as("y")),
        "doc_id")
  }

  /** Register the `graftlake` SQL catalog once per session (Spark caches
    * catalog instances by name, so the root is pinned at first use);
    * queries isolate under their own namespace. */
  private def sqlCatalogRoot(s: SparkSession): String = synchronized {
    if (!s.conf.getOption("spark.sql.catalog.graftlake").isDefined) {
      s.conf.set("spark.sql.catalog.graftlake", "graft.sql.LakeSparkCatalog")
      s.conf.set("spark.sql.catalog.graftlake.root",
        java.nio.file.Files.createTempDirectory("graft_sqlcat").toString)
    }
    s.conf.get("spark.sql.catalog.graftlake.root")
  }

  /** Flagship: multi-way join + exact aggregation (SURVEY §2.5 Q12/Q14). */
  def entry(spark: SparkSession): DataFrame =
    queries("q12_join_multi")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.streaming.StreamingGates.queries ++ Map(

    // ---- aggregation / scan layer ------------------------------------
    // TPC-H-Q1-shaped agg; reference pattern: EAV pivot + grouped measures
    // (stg_opralogweb__mcr_equipment_downtime.sql:50-90).
    "q01_agg_pushdown" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .where(col("l_shipdate") <= lit("2001-09-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          TR.sumExact(col("l_quantity")).as("sum_qty"),
          TR.sumExact(col("l_extendedprice")).as("sum_base_price"),
          TR.sumExact(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .withColumn("avg_qty", col("sum_qty") / col("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // Q1+Q2+Q3: trim / normalize_whitespace / category key
    // (macros/normalize_whitespace.sql:6-8, create_equipment_category_key.sql:2-4).
    "q02_string_funcs" -> ((s, dir) => {
      t(s, dir, "part").select(
        col("p_partkey"),
        trim(col("p_name")).as("name_trim"),
        TR.normalizeWhitespace(col("p_name")).as("name_norm"),
        TR.categoryKey(col("p_type")).as("type_key"))
        .orderBy("p_partkey")
    }),

    // Q4+Q5: parse "date time" in Europe/London -> UTC
    // (macros/parse_utc_timestamp.sql:7-15). Noon avoids DST ambiguity.
    "q04_parse_utc_timestamp" -> ((s, dir) => {
      t(s, dir, "orders").select(
        col("o_orderkey"),
        TR.parseUtcTimestamp(date_format(col("o_orderdate"), "yyyy-MM-dd"),
          lit("12:00:00"), "Europe/London").cast("long").as("utc_epoch"))
        .orderBy("o_orderkey")
    }),

    // Q6+Q10+Q11: ts->date cast + ISO literal date filter
    // (base_opralogweb__entries.sql:15; stg_opralogweb__mcr_equipment_downtime.sql:40).
    "q06_cast_ts_date" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .where(col("l_shipdate") >= to_date(lit("1995-01-01")))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_shipdate").cast("date").as("ship_date"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // Q7: char-flag CASE -> boolean (base_opralogweb__entries.sql:17-20).
    "q07_char_flag_case" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          TR.charFlag(col("l_returnflag")).as("is_returned"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // Q8: prefix substring + Trino negative-start substring (last 8 chars)
    // (stg_accelerator_sharepoint__equipment_downtime_data_11_08_24.sql:15,17).
    "q08_substring_neg" -> ((s, dir) => {
      t(s, dir, "part").where(length(col("p_name")) >= 8)
        .select(col("p_partkey"),
          substring(col("p_name"), 1, 10).as("prefix10"),
          TR.lastChars(col("p_name"), 8).as("last8"))
        .orderBy("p_partkey")
    }),

    // Q9: 2->4-digit year expansion via like/concat (same file :32-35).
    "q09_year_expand" -> ((s, dir) => {
      t(s, dir, "orders").select(col("o_orderkey"),
        TR.expandTwoDigitYear(
          substring(col("o_orderdate").cast("date").cast("string"), 3, 2)).as("year4"))
        .orderBy("o_orderkey")
    }),

    // Q12: multi-way inner + left-outer join chain over the star schema
    // (stg_opralogweb__mcr_equipment_downtime.sql:29-35).
    "q12_join_multi" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").where(col("l_quantity") > 5)
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      val sup = t(s, dir, "supplier")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(n, col("c_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"), "left_outer")
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("cnt"),
          TR.sumExact(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .withColumn("avg_revenue", col("revenue") / col("cnt"))
        .orderBy("r_name", "n_name")
    }),

    // Q13: compound filter with IN-list, IS NOT NULL, column-column compare
    // (stg_opralogweb__mcr_equipment_downtime.sql:37-47).
    "q13_filter_in" -> ((s, dir) => {
      t(s, dir, "orders")
        .where(col("o_orderstatus").isin("O", "F") &&
          col("o_totalprice").isNotNull &&
          col("o_custkey") < col("o_orderkey") &&
          col("o_orderdate") >= lit("1995-01-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey", "o_orderstatus")
        .orderBy("o_orderkey")
    }),

    // Q14+Q15: EAV pivot via min(CASE tag WHEN ...) + post-agg HAVING filter
    // (stg_opralogweb__mcr_equipment_downtime.sql:50-94).
    "q14_eav_pivot" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(
          min(when(col("event_type") === "click", col("value"))).as("click_min"),
          min(when(col("event_type") === "view", col("value"))).as("view_min"),
          min(when(col("event_type") === "purchase", col("value"))).as("purchase_min"))
        .where(col("click_min").isNotNull && col("view_min").isNotNull)
        .orderBy("user_id")
    }),

    // Q16: parent/child id join (stg_statusdisplay__cycles.sql:20-32).
    "q16_parent_child_join" -> ((s, dir) => {
      t(s, dir, "orders").join(t(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderkey"), col("l_linenumber"),
          col("o_orderstatus"), col("l_quantity"))
        .orderBy("o_orderkey", "l_linenumber")
    }),

    // Q17: GROUP BY all-columns dedup (marts/accelerator/cycles.sql:15-26).
    "q17_groupby_dedup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"),
          col("l_shipdate").cast("date").as("ship_date"))
        .distinct()
        .orderBy("l_returnflag", "l_linestatus", "ship_date")
    }),

    // Q18: any_value-style dedup by computed key, made deterministic with min
    // (stg_accelerator_sharepoint__edr_equipment_mapping.sql:7-18).
    "q18_any_value_dedup" -> ((s, dir) => {
      t(s, dir, "part")
        .groupBy(TR.categoryKey(col("p_type")).as("type_key"))
        .agg(min(col("p_brand")).as("any_brand"), count(lit(1)).as("cnt"))
        .orderBy("type_key")
    }),

    // Q19+Q22: NULL-cast column padding + UNION (distinct!)
    // (mcr_equipment_downtime_records.sql:25,57-62).
    "q19_union_pad" -> ((s, dir) => {
      val a = t(s, dir, "customer").select(col("c_name").as("name"),
        col("c_acctbal").as("acctbal"), col("c_mktsegment").as("mktsegment"))
      val b = t(s, dir, "supplier").select(col("s_name").as("name"),
        col("s_acctbal").as("acctbal"), lit(null).cast("string").as("mktsegment"))
      a.union(b).distinct().orderBy("name", "acctbal")
    }),

    // Q20: interval (range) join against a tiny derived periods table ->
    // broadcast nested-loop (mcr_equipment_downtime_records.sql:52-53).
    "q20_interval_join" -> ((s, dir) => {
      val periods = t(s, dir, "orders")
        .select(date_trunc("quarter", col("o_orderdate")).cast("date").as("q_start"))
        .distinct()
        .withColumn("q_end", add_months(col("q_start"), 3))
      val li = t(s, dir, "lineitem")
        .select(col("l_shipdate").cast("date").as("ship_date"))
      li.join(broadcast(periods),
          col("ship_date") >= col("q_start") && col("ship_date") < col("q_end"))
        .groupBy("q_start").agg(count(lit(1)).as("cnt"))
        .orderBy("q_start")
    }),

    // Q21: uncorrelated scalar subquery in WHERE, kept in-plan via Spark SQL
    // (mcr_equipment_downtime_records.sql:54).
    "q21_scalar_subquery" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("graft_orders_q21")
      s.sql("""SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date
               FROM graft_orders_q21
               WHERE o_orderdate > (SELECT MAX(o_orderdate) - INTERVAL 90 DAYS
                                    FROM graft_orders_q21)
               ORDER BY o_orderkey""")
    }),

    // Q23: interval arithmetic ts + n * INTERVAL 1 MINUTE
    // (mcr_equipment_downtime_records.sql:75).
    "q23_interval_arith" -> ((s, dir) => {
      t(s, dir, "orders").select(col("o_orderkey"),
        (unix_timestamp(col("o_orderdate")) +
          expr("CAST(FLOOR(o_totalprice) AS BIGINT) % 120") * 60L).as("deadline_epoch"))
        .orderBy("o_orderkey")
    }),

    // Q24: window lag + Trino-truncating date_diff minutes
    // (mcr_equipment_downtime_records.sql:96-99).
    "q24_window_lag" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("prev_date", lag(col("o_orderdate"), 1).over(w))
        .select(col("o_orderkey"),
          TR.dateDiffMinutesTrunc(col("prev_date"), col("o_orderdate")).as("mins_since_prev"))
        .orderBy("o_orderkey")
    }),

    // Q25: left join on a normalized computed key
    // (mcr_equipment_downtime_records.sql:107-126).
    "q25_join_normalized_key" -> ((s, dir) => {
      val p = t(s, dir, "part")
      val mapping = p.groupBy(TR.categoryKey(col("p_type")).as("type_key"))
        .agg(min(col("p_brand")).as("category_brand"))
      p.join(mapping, TR.categoryKey(p("p_type")) === mapping("type_key"), "left_outer")
        .select(col("p_partkey"), col("type_key"), col("category_brand"))
        .orderBy("p_partkey")
    }),

    // Q26: ORDER BY as write sort + LIMIT over a unique key
    // (mcr_equipment_downtime_records.sql:129-130).
    "q26_orderby_limit" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_shipdate").cast("date").as("ship_date"),
          col("l_orderkey"), col("l_linenumber"))
        .orderBy("ship_date", "l_orderkey", "l_linenumber")
        .limit(100)
    }),

    // Q27: DISTINCT + filter view
    // (mcr_equipment_downtime_uncategorized_equipment.sql:8-16).
    "q27_distinct_filter" -> ((s, dir) => {
      t(s, dir, "orders").where(col("o_orderstatus") === "O")
        .select("o_orderpriority").distinct().orderBy("o_orderpriority")
    }),

    // ---- source-layer semantics over the synthetic tables -------------
    // S2: watermark predicate pushdown (sources/sqldatabase/__init__.py:178-181).
    "s02_watermark_filter" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .where(col("l_shipdate") > lit("2000-06-30").cast("timestamp"))
        .groupBy(col("l_shipdate").cast("date").as("ship_date"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("ship_date")
    }),

    // S6: dependent-table semi-join extract (opralogweb.py:124-150).
    "s06_semi_join_extract" -> ((s, dir) => {
      val keys = t(s, dir, "orders").where(col("o_orderstatus") === "F")
        .select("o_orderkey")
      t(s, dir, "lineitem")
        .join(keys, col("l_orderkey") === col("o_orderkey"), "left_semi")
        .select("l_orderkey", "l_linenumber")
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // S9+R4: destination-state scan, max-watermark compute
    // (runner.py:125-133; electricity_sharepoint.py:254-275).
    "s09_state_max_scan" -> ((s, dir) => {
      t(s, dir, "orders").where(col("o_orderstatus") === "O")
        .agg(max(col("o_orderdate")).cast("date").as("wm_date"),
          max(unix_timestamp(col("o_orderdate"))).as("wm_epoch"),
          count(lit(1)).as("cnt"))
    }),

    // ---- event-stream batch analytics ---------------------------------
    // Sessionization: lag + running window sum (Q24 family at event scale).
    "ev01_sessionize" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
      ev.withColumn("prev_us", lag(col("ts_us"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_us").isNull || col("ts_us") - col("prev_us") > 1800L * 1000000L, 1L)
            .otherwise(0L))
        .withColumn("sess_id", sum(col("new_sess")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id")
        .agg(max(col("sess_id")).as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy("user_id")
    }),

    // JSON property extraction from the events props column (regex-based so
    // the oracle needs no JSON extension).
    "ev02_json_props" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(col("event_id"),
          regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1).cast("int").as("k_val"))
        .orderBy("event_id")
    }),

    // §2.6: collect_list per group (reference: arrow group_by aggregate
    // [(col,"list")], moderator_performance.py:78-84), sorted for
    // cross-engine determinism.
    "q28_collect_list" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(concat_ws(",",
            sort_array(collect_list(col("o_orderkey")))).as("order_keys"),
          count(lit(1)).as("cnt"))
        .orderBy("o_custkey")
    }),

    // ---- lakehouse table layer, exercised end-to-end ------------------
    // L1: transactional append across two chunks == full table.
    "l01_append" -> ((s, dir) => {
      val loc = java.nio.file.Files.createTempDirectory("graft_l01").toString + "/t"
      val o = t(s, dir, "orders")
      val table = LakeTable.ensure(s, loc, o.schema)
      table.write(o.where(col("o_orderkey") % 2 === 0), "append")
      table.write(o.where(col("o_orderkey") % 2 === 1), "append")
      table.read()
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate").cast("date").as("order_date"))
        .orderBy("o_orderkey")
    }),

    // L2: merge/upsert as full-outer rewrite (iceberg/io.py:95-106).
    "l02_merge_upsert" -> ((s, dir) => {
      val loc = java.nio.file.Files.createTempDirectory("graft_l02").toString + "/t"
      val o = t(s, dir, "orders")
      val table = LakeTable.ensure(s, loc, o.schema)
      table.write(o.where(col("o_orderkey") % 7 =!= 0), "append")
      val updates = o.where(col("o_orderkey") % 3 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      table.write(updates, "merge", mergeOn = Seq("o_orderkey"))
      table.read().select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
        .orderBy("o_orderkey")
    }),

    // L3: replace-then-append chunk rule (runner.py:79-84).
    "l03_replace_chunks" -> ((s, dir) => {
      val loc = java.nio.file.Files.createTempDirectory("graft_l03").toString + "/t"
      val o = t(s, dir, "orders")
      val table = LakeTable.ensure(s, loc, o.schema)
      table.write(o, "append") // pre-existing contents, must vanish
      table.write(o.where(col("o_orderstatus") === "O"), "replace")
      table.write(o.where(col("o_orderstatus") === "F"), "append")
      table.read().select(col("o_orderkey"), col("o_orderstatus"))
        .orderBy("o_orderkey")
    }),

    // L10: the write-audit-publish workflow end to end, with every
    // protocol property encoded as an id-class row the oracle can state:
    // the staged delta is invisible to readers (pre-publish count == base),
    // the auditor sees base+delta via readAt, publish is a pointer swap
    // (final rows = base + published delta + interleaved commit), a stage
    // whose base moved REFUSES to publish, and its discard removes it
    // from the snapshot log.
    "l10_wap_publish" -> ((s, dir) => {
      val loc = java.nio.file.Files.createTempDirectory("graft_l10").toString + "/t"
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"))
      val table = LakeTable.ensure(s, loc, o.schema)
      table.write(o.where(col("o_orderkey") % 4 === 0), "append")
      val stage1 = table.stageAppend(o.where(col("o_orderkey") % 4 === 1))
      val preCount = table.read().count()        // must still be the base
      val auditCount = table.readAt(stage1).count() // base + staged delta
      table.publishStaged(stage1)
      // a second stage invalidated by an interleaved commit on its base
      val stage2 = table.stageAppend(o.where(col("o_orderkey") % 4 === 2))
      table.write(o.where(col("o_orderkey") % 4 === 3), "append")
      val refused =
        try { table.publishStaged(stage2); 0L }
        catch { case _: Exception => 1L }
      table.discardStaged(stage2)
      val discarded =
        if (table.metadata.snapshots.exists(_.id == stage2)) 0L else 1L
      import s.implicits._
      val checks = Seq(
        ("check:audit_rows", auditCount),
        ("check:publish_refused", refused),
        ("check:stage2_discarded", discarded),
        ("check:staged_invisible_rows", preCount))
        .toDF("rk", "val").withColumn("status", lit("check"))
      table.read()
        .select(concat(lit("k:"), col("o_orderkey").cast("string")).as("rk"),
          col("o_orderkey").as("val"), col("o_orderstatus").as("status"))
        .unionByName(checks)
        .select(col("rk"), col("status"), col("val"))
        .orderBy("rk")
    }),

    // L5 + §1.4: partition spec (year transform) with a pruned read-back.
    "l05_partition_prune" -> ((s, dir) => {
      val loc = java.nio.file.Files.createTempDirectory("graft_l05").toString + "/t"
      val li = t(s, dir, "lineitem")
      val table = LakeTable.ensure(s, loc, li.schema,
        partitionSpec = Seq(PartitionField("l_shipdate", "year")))
      table.write(li, "append")
      table.readWithPartitions()
        .where(col("l_shipdate_year") === 2000) // prunes to one partition dir
        .groupBy(month(col("l_shipdate")).as("ship_month"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("ship_month")
    }),

    // L6+R3-R6: two-run incremental ingest with stored watermark filter.
    "r03_incremental_ingest" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_r03").toString
      val catalog = new LakeCatalog(root)
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      val cutoff = lit("1999-01-01").cast("timestamp")
      def extractor(upTo: Boolean)(wm: Option[graft.runner.Watermark]) = {
        val base = if (upTo) o.where(col("o_orderdate") <= cutoff) else o
        Iterator(wm.map(IngestRunner.watermarkFilter(base, _)).getOrElse(base))
      }
      val res1 = Resource("orders_inc", extractor(upTo = true), watermarkColumn = Some("o_orderdate"))
      IngestRunner.runIngest(s, catalog, "wh", "ns", Seq(res1))
      // run 2 sees the full source but the stored watermark filters re-reads
      IngestRunner.runIngest(s, catalog, "wh", "ns",
        Seq(res1.copy(extractor = extractor(upTo = false))))
      catalog.loadTable(s, "wh", "ns", "orders_inc").read()
        .select(col("o_orderkey"), col("o_orderdate").cast("date").as("order_date"))
        .orderBy("o_orderkey")
    }),

    // §1.3: add-only schema evolution; old rows null-filled on read.
    "l06_evolve_schema" -> ((s, dir) => {
      val loc = java.nio.file.Files.createTempDirectory("graft_l06").toString + "/t"
      val o = t(s, dir, "orders")
      val narrow = o.select("o_orderkey", "o_orderstatus")
      val table = LakeTable.ensure(s, loc, narrow.schema)
      table.write(narrow.where(col("o_orderkey") % 2 === 0), "append")
      table.write(o.select("o_orderkey", "o_orderstatus", "o_totalprice")
        .where(col("o_orderkey") % 2 === 1), "append")
      table.read().orderBy("o_orderkey")
    }),

    // Z1: z-order maintenance rewrite — cluster by the interleaved bits of
    // two numeric columns, then prove the rewrite is content-preserving
    // (the pruning effect itself is file-level and locked by
    // LakeTableSpec's both-dimension numFiles audit).
    "z01_zorder_rewrite" -> ((s, dir) => {
      val loc = java.nio.file.Files.createTempDirectory("graft_z01").toString + "/t"
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val table = LakeTable.ensure(s, loc, o.schema)
      table.write(o.where(col("o_orderkey") % 2 === 0), "append")
      table.write(o.where(col("o_orderkey") % 2 === 1), "append")
      table.zorderBy(Seq("o_custkey", "o_totalprice"), targetFiles = 4)
      table.read().orderBy("o_orderkey")
    }),

    // ---- SQL surface over lake tables (DSv2 catalog + relation rule) --
    // The reference's consumption layer is SQL over the Iceberg catalog
    // (dbt->Trino `transform/profiles.yml:1-16`, DuckDB attach
    // `infra/scripts/duckdb-attach-lakehouses.sh`); these route reads and
    // writes through `graft.sql.LakeSparkCatalog`.
    // Q30: moving RANGE-frame window — trailing 1-hour per-user event
    // aggregates (count + exact decimal sum). The range frame includes
    // peers at equal timestamps in both engines, so results are
    // deterministic even under timestamp collisions; one shuffle on the
    // user key.
    "q30_moving_window" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us")
        .rangeBetween(-3600000000L, 0L)
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts_us"), col("value"))
        .withColumn("cnt_1h", count(lit(1)).over(w))
        .withColumn("sum_1h",
          sum(col("value").cast("decimal(27,6)")).over(w).cast("double"))
        .select("event_id", "user_id", "ts_us", "cnt_1h", "sum_1h")
        .orderBy("event_id")
    }),

    // SQL08: window function through the SQL catalog surface — top-3
    // orders per status by price, ranked in SQL over a lake table.
    "sql08_catalog_window" -> ((s, dir) => {
      val root = sqlCatalogRoot(s)
      val o = t(s, dir, "orders")
      LakeTable.ensure(s, s"$root/sql08/orders", o.schema).write(o, "replace")
      s.sql(
        """SELECT o_orderstatus, rk, o_orderkey, o_totalprice FROM (
          |  SELECT o_orderstatus, o_orderkey, o_totalprice,
          |    CAST(ROW_NUMBER() OVER (PARTITION BY o_orderstatus
          |                            ORDER BY o_totalprice DESC, o_orderkey)
          |         AS BIGINT) AS rk
          |  FROM graftlake.sql08.orders)
          |WHERE rk <= 3 ORDER BY o_orderstatus, rk""".stripMargin)
    }),

    "sql01_catalog_agg" -> ((s, dir) => {
      val root = sqlCatalogRoot(s)
      val o = t(s, dir, "orders")
      LakeTable.ensure(s, s"$root/sql01/orders", o.schema).write(o, "replace")
      s.sql(
        """SELECT o_orderstatus, COUNT(*) AS cnt,
          |  MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price
          |FROM graftlake.sql01.orders
          |WHERE o_orderdate >= timestamp'1997-01-01 00:00:00'
          |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    }),

    "sql02_catalog_join" -> ((s, dir) => {
      val root = sqlCatalogRoot(s)
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      LakeTable.ensure(s, s"$root/sql02/orders", o.schema).write(o, "replace")
      LakeTable.ensure(s, s"$root/sql02/customer", c.schema).write(c, "replace")
      s.sql(
        """SELECT c.c_mktsegment, COUNT(*) AS cnt, MAX(o.o_totalprice) AS max_price
          |FROM graftlake.sql02.orders o
          |JOIN graftlake.sql02.customer c ON o.o_custkey = c.c_custkey
          |WHERE c.c_acctbal > 0
          |GROUP BY c.c_mktsegment ORDER BY c_mktsegment""".stripMargin)
    }),

    "sql03_sql_insert" -> ((s, dir) => {
      val root = sqlCatalogRoot(s)
      val o = t(s, dir, "orders")
      // idempotent across runs: recreate the target table each time
      LakeTable.deleteRecursively(java.nio.file.Paths.get(s"$root/sql03"))
      o.createOrReplaceTempView("orders_src_sql03")
      s.sql("CREATE TABLE graftlake.sql03.orders_lite " +
        "(o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE)")
      // transactional append through the commit protocol (V1 write fallback)
      s.sql("INSERT INTO graftlake.sql03.orders_lite " +
        "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders_src_sql03 " +
        "WHERE o_orderkey % 4 = 0")
      s.sql("INSERT INTO graftlake.sql03.orders_lite " +
        "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders_src_sql03 " +
        "WHERE o_orderkey % 4 = 1")
      s.sql("SELECT o_orderkey, o_orderstatus, o_totalprice " +
        "FROM graftlake.sql03.orders_lite ORDER BY o_orderkey")
    }),

    "sql04_merge_into" -> ((s, dir) => {
      val root = sqlCatalogRoot(s)
      val o = t(s, dir, "orders")
      LakeTable.deleteRecursively(java.nio.file.Paths.get(s"$root/sql04"))
      val table = LakeTable.ensure(s, s"$root/sql04/orders", o.schema)
      table.write(o.where(col("o_orderkey") % 7 =!= 0), "append")
      o.where(col("o_orderkey") % 3 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .createOrReplaceTempView("sql04_src")
      s.sql(
        """MERGE INTO graftlake.sql04.orders t USING sql04_src s
          |ON t.o_orderkey = s.o_orderkey
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      s.sql("SELECT o_orderkey, o_totalprice, o_orderstatus " +
        "FROM graftlake.sql04.orders ORDER BY o_orderkey")
    }),

    // SQ5 general shape: conditional matched update/delete, explicit-column
    // insert, and a NOT MATCHED BY SOURCE update — SQL clause-order
    // semantics through the copy-on-write merge frame.
    "sql07_merge_conditional" -> ((s, dir) => {
      val root = sqlCatalogRoot(s)
      val o = t(s, dir, "orders")
      LakeTable.deleteRecursively(java.nio.file.Paths.get(s"$root/sql07"))
      val table = LakeTable.ensure(s, s"$root/sql07/orders", o.schema)
      table.write(o.where(col("o_orderkey") % 7 =!= 0), "append")
      o.where(col("o_orderkey") % 3 === 0).createOrReplaceTempView("sql07_src")
      s.sql(
        """MERGE INTO graftlake.sql07.orders t USING sql07_src s
          |ON t.o_orderkey = s.o_orderkey
          |WHEN MATCHED AND s.o_orderstatus = 'F' THEN DELETE
          |WHEN MATCHED THEN UPDATE SET o_totalprice = t.o_totalprice + s.o_totalprice
          |WHEN NOT MATCHED AND s.o_totalprice > 1000 THEN
          |  INSERT (o_orderkey, o_orderstatus) VALUES (s.o_orderkey, s.o_orderstatus)
          |WHEN NOT MATCHED BY SOURCE AND t.o_orderkey % 5 = 0 THEN
          |  UPDATE SET o_totalprice = t.o_totalprice * 2""".stripMargin)
      s.sql("SELECT o_orderkey, o_orderstatus, o_totalprice " +
        "FROM graftlake.sql07.orders ORDER BY o_orderkey")
    }),

    "sql05_delete" -> ((s, dir) => {
      val root = sqlCatalogRoot(s)
      val o = t(s, dir, "orders")
      LakeTable.deleteRecursively(java.nio.file.Paths.get(s"$root/sql05"))
      LakeTable.ensure(s, s"$root/sql05/orders", o.schema).write(o, "append")
      s.sql("DELETE FROM graftlake.sql05.orders WHERE o_orderstatus = 'F' " +
        "AND o_orderkey % 2 = 0")
      s.sql("SELECT o_orderkey, o_orderstatus FROM graftlake.sql05.orders " +
        "ORDER BY o_orderkey")
    }),

    "sql06_update" -> ((s, dir) => {
      val root = sqlCatalogRoot(s)
      val o = t(s, dir, "orders")
      LakeTable.deleteRecursively(java.nio.file.Paths.get(s"$root/sql06"))
      LakeTable.ensure(s, s"$root/sql06/orders", o.schema).write(o, "append")
      s.sql("UPDATE graftlake.sql06.orders SET o_totalprice = o_totalprice * 2, " +
        "o_orderpriority = 'RUSH' WHERE o_orderstatus = 'O'")
      s.sql("SELECT o_orderkey, o_totalprice, o_orderpriority " +
        "FROM graftlake.sql06.orders ORDER BY o_orderkey")
    }),

    // K1: salted equi-join — result identical to the plain join (the salt
    // only changes the shuffle layout), so it oracle-gates directly.
    // D13: corpus vocabulary build (term frequency + document frequency,
    // the stats stage of tokenizer training) — explode -> one token
    // shuffle with map-side partial aggs; total-order tie-break makes the
    // top-100 deterministic.
    "d13_vocab" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"), explode(TF.cleanTokens(col("text"))).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("tf"), count_distinct(col("doc_id")).as("df"))
        .orderBy(col("tf").desc, col("token")).limit(100)
    }),

    // K2: deterministic stratified sampling — k docs per (lang, source)
    // stratum ranked by a content-independent hash, the "N examples per
    // domain" op of training-data curation. Salted two-level rank
    // (BoundedRank): even a stratum holding half the corpus never sorts in
    // one task; per-key final state is bounded by salts * k.
    "k02_group_sample" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.operators.BoundedRank.topKPerKey(
          d.select(col("lang"), col("source"), col("doc_id")),
          Seq("lang", "source"),
          Seq(md5(col("doc_id").cast("string")), col("doc_id")), k = 3)
        .select(col("lang"), col("source"), col("doc_id"), col("rk"))
        .orderBy("lang", "source", "rk")
    }),

    // K6: deterministic hash-bucketed dataset split — the train/val/test
    // assignment every released dataset ships. The portable polynomial
    // hash of the doc id buckets 0-999 (content-independent, stable under
    // re-shards and re-runs: a doc's split NEVER changes as the corpus
    // grows — the property random sampling lacks); 90/5/5 thresholds.
    // Shuffle-free projection; the oracle restates the hash fold.
    // Deliberately a SEPARATE gate from d25's 100-bucket split: released
    // datasets quote split fractions at 0.1% granularity (90.0/5.0/5.0),
    // and the 1000-bucket modulus exercises the hash's uniformity in the
    // low three decimal digits — a bias d25's coarse %100 fold cannot
    // see; k06 also carries a payload column (lang) through the
    // projection, pinning that the split is a pure column-add.
    "k06_dataset_split" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"), col("lang"))
        .withColumn("bucket",
          TF.portableHash(col("doc_id").cast("string")) % 1000L)
        .withColumn("split",
          when(col("bucket") < 900L, "train")
            .when(col("bucket") < 950L, "validation")
            .otherwise("test"))
        .orderBy("doc_id")),

    // K7: size-balanced Arrow shard rebalance — the pre-epoch re-shard a
    // data-parallel trainer wants (skewed shard sizes stall the slowest
    // reader): skewed source shards (1..13 rows each) explode through the
    // M13 reader, every record gets its GLOBAL rank via the two-level
    // prefix sum (never a single-partition window), lands in shard
    // (rank-1)*8 div total — row counts differ by at most one — and the
    // new shards write as real Arrow files (M24's writer). The gate reads
    // the REBALANCED files back; the oracle restates rank + assignment as
    // the naive global window.
    "k07_shard_rebalance" -> ((s, dir) => {
      import s.implicits._
      val src = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val k = (1 + 2 * (id % 7)).toInt
          val rows = (0 until k).map { r =>
            (id * 100 + r, s"l${(id + r) % 4}", (id % 97).toDouble + r * 0.25)
          }
          (id, graft.operators.ArrowShard.encodeShard(rows, batchRows = 4))
        }).toDF("shard_id", "payload")
      val out = graft.operators.ArrowShard.rebalanceShards(s, src, nShards = 8)
      graft.operators.ArrowShard.explodeRows(s, out).toDF()
        .orderBy("shard_id", "row_idx")
    }),

    // K8: length-bucketed batching — the padded-batch prep of every
    // trainer with non-packed batches (dynamic batching): within each
    // hash shard, docs order by token count DESC (doc_id tie-break) and
    // cut into batches of 32, so batch-mates have near-equal lengths and
    // the per-batch padded cost (n_docs * max_tokens - sum_tokens) is
    // minimized vs arrival order. One exchange on the shard key; the
    // per-shard window is bounded by corpus/nShards (the k05 sharding
    // stance — nShards scales with the corpus).
    "k08_length_batching" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        (col("doc_id") % 8).as("shard_id"),
        size(TF.cleanTokens(col("text"))).cast("long").as("n_tokens"))
      val w = Window.partitionBy("shard_id")
        .orderBy(col("n_tokens").desc, col("doc_id").asc)
      docs.withColumn("rk", row_number().over(w))
        .withColumn("batch_idx", expr("(rk - 1) div 32"))
        .groupBy("shard_id", "batch_idx")
        .agg(count(lit(1)).as("n_docs"),
          max("n_tokens").as("max_tokens"),
          sum("n_tokens").as("sum_tokens"))
        .select(col("shard_id"), col("batch_idx"), col("n_docs"),
          col("max_tokens"), col("sum_tokens"),
          (col("max_tokens") * col("n_docs") - col("sum_tokens"))
            .as("padding"))
        .orderBy("shard_id", "batch_idx")
    }),

    // K13: the corpus-card length report — EXACT per-language p50/p90/p99
    // token-count percentiles (padding budgets, chunk-size calibration,
    // the "sequence length distribution" table of every dataset card).
    // Exact, not percentile_approx: one (lang, n_tokens) histogram with
    // map-side partial counts, then the cumulative window runs over
    // HISTOGRAM rows (per-language work bounded by distinct-length
    // cardinality, never row count); the boundary test is pure integer
    // (100*cum >= p*n).
    "k13_length_quantiles" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("lang"),
        size(TF.cleanTokens(col("text"))).cast("long").as("n_tokens"))
      graft.operators.CorpusSelect
        .groupedExactQuantiles(docs, "lang", "n_tokens", Seq(50, 90, 99))
        .orderBy("lang")
    }),

    // X9: k13's adversarial edges — a fully DEGENERATE group (every row
    // the same value: the histogram is ONE row, p1..p100 all equal) next
    // to a group whose percentile boundaries land EXACTLY on cumulative
    // edges (equal-count distinct values, so 100*cum == p*n at the
    // boundary — the >= vs > off-by-one every quantile implementation
    // gets wrong somewhere), with p1 and p100 at both extremes.
    "x09_quantile_edges" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(
        when(col("doc_id") % 2 === 0, lit("hot")).otherwise(lit("tail"))
          .as("grp"),
        when(col("doc_id") % 2 === 0, lit(7L))
          .otherwise(col("doc_id") % 100).as("v"))
      graft.operators.CorpusSelect
        .groupedExactQuantiles(docs, "grp", "v", Seq(1, 50, 99, 100))
        .orderBy("grp")
    }),

    // K10: stratified mixture sampling — how a training recipe actually
    // HITS a token mixture: a global budget (1/10 of corpus tokens)
    // apportions across languages by LARGEST-REMAINDER (exact integer
    // Hamilton allocation — floors + one extra token to the largest
    // remainders; sums to the budget by construction, no floating point
    // anywhere), then each language selects best-first by a deterministic
    // pseudo-random order (portable hash of the doc id bucketed %1024 —
    // the bounded-score-cardinality contract) under ITS OWN allocation
    // through the per-key histogram machinery (d43's shape with a
    // per-key budget join). The apportionment windows run over ONE ROW
    // PER LANGUAGE — dimension-sized, never the corpus.
    "k10_stratified_sample" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        size(TF.cleanTokens(col("text"))).cast("long").as("n_tokens"),
        (TF.portableHash(col("doc_id").cast("string")) % 1024L).as("score"))
      val total = d.agg(coalesce(sum("n_tokens"), lit(0L)))
        .collect()(0).getLong(0) // bounded: one driver-side row
      val totals = d.groupBy(col("lang").as("key"))
        .agg(sum("n_tokens").as("tok"))
      val alloc = graft.operators.CorpusSelect
        .largestRemainderAlloc(totals, total / 10)
      graft.operators.CorpusSelect.perKeyTokenBudgetSelectAllocated(
          d, "doc_id", "lang", "score", "n_tokens", alloc)
        .withColumnRenamed("key", "lang")
        .orderBy("doc_id")
    }),

    // K9: deterministic epoch shuffle — the per-epoch corpus permutation
    // every trainer wants WITHOUT `ORDER BY rand()` (not reproducible, a
    // global sort): sort key = portable hash of "epoch:doc_id", shard =
    // key % 8, position = rank within shard by (key, doc_id tie-break).
    // Content-independent, reshard-stable, reproducible on any engine or
    // partitioning; a different epoch value yields an uncorrelated
    // permutation through the same machinery (both epochs 0 and 1 sit
    // under this one gate). One exchange on (epoch, shard); the per-shard
    // window is bounded by corpus/nShards (nShards scales with the
    // corpus, the k05/k08 sharding stance).
    "k09_epoch_shuffle" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        explode(array(lit(0L), lit(1L))).as("epoch"))
      val keyed = docs.withColumn("sort_key",
          TF.portableHash(concat(col("epoch").cast("string"), lit(":"),
            col("doc_id").cast("string"))))
        .withColumn("shard_id", col("sort_key") % 8L)
      val w = Window.partitionBy("epoch", "shard_id")
        .orderBy(col("sort_key"), col("doc_id"))
      keyed.withColumn("position", row_number().over(w).cast("long"))
        .select("epoch", "shard_id", "position", "doc_id", "sort_key")
        .orderBy("epoch", "shard_id", "position")
    }),

    "k01_salted_skew_join" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey").as("c_custkey"),
          col("o_totalprice"))
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
      graft.operators.SkewJoin.saltedEquiJoin(o, c, "c_custkey", 8)
        .orderBy("o_orderkey")
    }),

    // ---- training-data pipeline: dedup --------------------------------
    "d01_exact_dedup" -> ((s, dir) =>
      Dedup.exactDedup(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("keep_id")),

    "d02_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashNearDupPairs(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_a", "doc_b")),

    // Adversarial-skew stress of the LSH band-bucket cap (the 100 TB
    // hot-key shape): every mod-th doc shares ONE text, so every band
    // funnels the whole hot group into a single (band_id, band_key).
    // x01: hot group is 20% of the corpus — above the cap at bench scale
    // (sf0.1: 1000 > 500), the cap must drop the boilerplate bucket and
    // keep runtime at the uniform baseline. x02: hot group is 10% — AT
    // the cap at bench scale (500 = cap), the worst bounded case: cap^2/2
    // verify pairs per band must stay a bounded, distributed join. Both
    // run the same oracle as d02 over the skewed corpus.
    "x01_lsh_skew_capped" -> ((s, dir) =>
      Dedup.minhashNearDupPairs(hotBandDocs(s, dir, 5), "doc_id", "text")
        .orderBy("doc_a", "doc_b")),

    "x02_lsh_skew_atcap" -> ((s, dir) =>
      Dedup.minhashNearDupPairs(hotBandDocs(s, dir, 10), "doc_id", "text")
        .orderBy("doc_a", "doc_b")),

    // X3/X4: the SCALE-CORRECT operating points of d17/e07. Their gated
    // forms pin the partitioning parameter (8 clusters / 8 hyperplanes)
    // for oracle purity, which is right at sf0.01 but quadratically wrong
    // as the corpus grows: the sf1 pass measured d17 at 35x its sf0.1
    // time because fixed k means 10x-bigger clusters and 100x the
    // within-cluster pair space. Production scales the parameter with
    // the corpus — k ~ n/2500 keeps expected cluster size (and therefore
    // per-cluster pair cost) CONSTANT; planes ~ log2(n/50) keeps expected
    // bucket occupancy constant. These bench rows run the identical
    // operators at that operating point; no SQL oracle (the parameter
    // depends on a runtime count), so the driver records rows>0 only —
    // the operators' correctness is already gated by d17/e07.
    "x03_semdedup_scaledk" -> ((s, dir) => {
      import graft.operators.Similarity
      val emb = t(s, dir, "embeddings")
      val n = emb.count()
      // production shape (Similarity.scaledSemDedupParams, the
      // parameterization the committed pair-space census measured): train
      // the quantizer on a bounded deterministic sample, then assign ALL
      // vectors and dedup within cells exactly as d17 does.
      val (k, stride) = Similarity.scaledSemDedupParams(n)
      val sample = emb.where(pmod(col("vec_id"), lit(stride)) === 0)
      val cents = Similarity.trainCentroids(sample, k,
        Similarity.ScaledSemDedupIters)
      val withCell = Similarity.withAssignedCells(emb, cents)
      val drop = Similarity.cosineNearDupPairs(withCell, "cell", 0.35)
        .select(col("vec_b").as("vec_id")).distinct()
      withCell.join(drop, Seq("vec_id"), "left_anti")
        .select("vec_id", "cell").orderBy("vec_id")
    }),
    "x04_hyperplane_lsh_scaled" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val n = math.max(64L, emb.count())
      val planes = // ceil(log2(n / 50)), floor 8
        math.max(8, 64 - java.lang.Long.numberOfLeadingZeros((n / 50) - 1))
      graft.operators.Similarity.hyperplaneLshNearDupPairs(
          emb, dim = 64, numPlanes = planes, threshold = 0.35)
        .orderBy("vec_a", "vec_b")
    }),

    "d03_simhash" -> ((s, dir) =>
      Dedup.simhashFingerprints(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // D11: the end-to-end corpus-clean composition — quality filter ->
    // exact dedup -> MinHash near-dup prune, each stage the already-gated
    // operator, chained the way a real training-data pipeline runs them.
    "d11_corpus_clean" -> ((s, dir) =>
      cleanStages(s, dir)._3.select("doc_id").orderBy("doc_id")),

    // D24: pipeline observability — surviving-doc counts after every stage
    // of the corpus-clean composition (the per-stage drop accounting every
    // production cleaning run reports). Four distributed counts, no
    // collect beyond the 4-row result.
    "d24_clean_report" -> ((s, dir) => {
      val (quality, deduped, cleaned) = cleanStages(s, dir)
      def cnt(df: DataFrame, id: Long, name: String) =
        df.agg(count(lit(1)).as("n_docs"))
          .select(lit(id).as("stage_id"), lit(name).as("stage"), col("n_docs"))
      cnt(t(s, dir, "documents"), 0L, "raw")
        .unionByName(cnt(quality, 1L, "quality"))
        .unionByName(cnt(deduped, 2L, "exact_dedup"))
        .unionByName(cnt(cleaned, 3L, "near_dedup"))
        .orderBy("stage_id")
    }),

    // D12: Gopher-style repetition quality rules — duplicate-word fraction
    // (linear, in-row HOFs) and top-2-gram fraction (explode -> one shuffle
    // on (doc_id, gram) with map-side partial counts -> per-doc max).
    // Integer floor-scaled fractions for bit-exact cross-engine compare.
    "d12_repetition" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      // Every statistic here is a per-document quantity, so the whole rule
      // is ONE shuffle-free projection: the top-bigram count runs in-row
      // over exact bigram strings (codegen kernel, cross-checked against
      // the explode formulation in TextHashKernelsSpec) — the former
      // corpus-wide (doc_id, gram) shuffle + join-back is gone entirely.
      d.select(col("doc_id"), col("text"),
          TF.cleanTokens(col("text")).as("w"))
        .select(col("doc_id"),
          size(col("w")).cast("long").as("n_tokens"),
          size(array_distinct(col("w"))).cast("long").as("n_distinct"),
          coalesce(expr("graft_top_bigram_count(text)"), lit(0L)).as("top2_cnt"))
        .select(col("doc_id"), col("n_tokens"),
          expr("CASE WHEN n_tokens > 0 THEN ((n_tokens - n_distinct) * 1000000) div n_tokens ELSE 0 END")
            .as("dup_word_frac_e6"),
          col("top2_cnt"),
          expr("CASE WHEN n_tokens > 1 THEN (top2_cnt * 1000000) div (n_tokens - 1) ELSE 0 END")
            .as("top2_frac_e6"))
        .orderBy("doc_id")
    }),

    "d07_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_a", "doc_b")),

    "d08_winnow_fingerprints" -> ((s, dir) =>
      Dedup.winnowFingerprintRows(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id", "fingerprint")),

    // D14: benchmark decontamination — drop training documents sharing any
    // winnowing fingerprint with the held-out set (the eval-overlap purge
    // every LLM data pipeline runs). The benchmark fingerprint set is
    // small by construction -> broadcast; training side streams once.
    "d14_decontaminate" -> ((s, dir) => {
      val fps = Dedup.winnowFingerprintRows(
        t(s, dir, "documents"), "doc_id", "text")
      val bench = fps.where(col("doc_id") % 97 === 0)
        .select("fingerprint").distinct()
      fps.where(col("doc_id") % 97 =!= 0)
        .join(broadcast(bench), "fingerprint")
        .select("doc_id").distinct().orderBy("doc_id")
    }),

    // D29: Bloom-prefiltered decontamination — identical OUTPUT to d14,
    // different 100 TB plan: the benchmark fingerprint set becomes a
    // compact Bloom sketch probed inside the training-side scan (codegen),
    // and the exact verify join sees only the sketch survivors. The gate
    // proves the prefilter is lossless (same oracle as d14).
    "d29_bloom_decontaminate" -> ((s, dir) =>
      Dedup.bloomDecontaminate(t(s, dir, "documents"), "doc_id", "text",
          isBench = col("doc_id") % 97 === 0, cacheHook = registerCache)
        .orderBy("doc_id")),

    // D32: DSIR-style importance weights — every raw doc scored by how
    // target-like its hashed bag-of-words is (integer likelihood-ratio
    // weights from target-vs-raw bucket counts; docs sharing doc_id % 11
    // with the d14 family stand in for the curated target sample).
    "d32_dsir_weight" -> ((s, dir) =>
      ImportanceWeights.dsirWeights(t(s, dir, "documents"), "doc_id", "text",
          isTarget = col("doc_id") % 11 === 0)
        .orderBy("doc_id")),

    // D33: BM25 ranked retrieval — every ~101st doc becomes a query over
    // the whole corpus (its distinct tokens are the query terms), scored
    // with the integer-exact BM25 variant and ranked top-5 via the salted
    // BoundedRank. Self-matches are kept: a query doc retrieving itself
    // at rank 1 is part of what the oracle checks.
    "d33_bm25_topk" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), TF.cleanTokens(col("text")).as("tokens"))
      val queries = docs.where(col("doc_id") % 101 === 0)
        .select(col("doc_id").as("query_id"), explode(col("tokens")).as("term"))
        .distinct()
      graft.operators.Bm25.topK(docs, queries, k = 5)
        .orderBy("query_id", "rk")
    }),

    // D34: the PRODUCTION BM25 path — same retrieval, but query terms
    // whose document frequency exceeds 5% of the corpus are dropped
    // before the posting join (the maxDf stop-word guard). This is the
    // shape a 100 TB deployment runs: the posting join only ever touches
    // rare terms, so the stop-wordy tail of the corpus never shuffles.
    "d34_bm25_capped" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), TF.cleanTokens(col("text")).as("tokens"))
      val cap = docs.count() / 20
      val queries = docs.where(col("doc_id") % 101 === 0)
        .select(col("doc_id").as("query_id"), explode(col("tokens")).as("term"))
        .distinct()
      graft.operators.Bm25.topK(docs, queries, k = 5, maxDf = cap)
        .orderBy("query_id", "rk")
    }),

    // D35: URL canonicalization for web-corpus dedup. Formula-built
    // messy URLs (upper-cased scheme/host, default port on even docs,
    // /x/../ dot segments, shuffled + tracking query params, fragments)
    // must canonicalize to the formula's normal form; n_same_canonical
    // (a window count over the canonical key) is the URL-level dedup
    // grouping a crawl pipeline keys on. The canonicalizer is a
    // shuffle-free projection; the one exchange here belongs to the
    // demonstration window.
    "d35_url_canon" -> ((s, dir) => {
      import s.implicits._
      val urls = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val port = if (id % 2 == 0) ":80" else ""
          (id, s"HTTP://WWW.Host${id % 40}.COM$port/a${id % 5}/x/../b/" +
            s"?z=${id % 3}&utm_source=s&a=${id % 7}#f")
        }).toDF("doc_id", "url")
      val c = graft.functions.UrlFunctions.withCanonicalUrls(urls, "url")
      c.select(col("doc_id"), col("canonical_url"), col("url_host"))
        .withColumn("n_same_canonical", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("canonical_url"))))
        .orderBy("doc_id")
    }),

    // D36: BPE subword token counting under a FIXED merge table — the
    // deterministic half of the tokenizer (training is spec-tested on
    // hand-computed corpora; encoding is gate-able because the token
    // count of each formula word under merges [(a,b),(ab,c)] is
    // analytic: abc->1, ab->1, ba->2, cab->2). Encode runs map-side
    // under the broadcast ranks; any greedy-priority or merge-sweep bug
    // shifts the counts and breaks the hash match.
    "d36_bpe_encode" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val text = List.fill((1 + id % 5).toInt)("abc") :::
            List.fill((1 + (id + 1) % 4).toInt)("ab") :::
            List.fill((1 + (id + 2) % 3).toInt)("ba") :::
            List.fill((1 + (id + 3) % 4).toInt)("cab")
          (id, text.mkString(" "))
        }).toDF("doc_id", "text")
      val merges = Seq(graft.operators.BpeTokenizer.Merge(0, "a", "b"),
        graft.operators.BpeTokenizer.Merge(1, "ab", "c"))
      graft.operators.BpeTokenizer.encodeStats(s, docs, "doc_id", "text", merges)
        .toDF().orderBy("doc_id")
    }),

    // D52: BPE train+encode under ONE oracle (VERDICT r9 ask #4 — x05's
    // previously rows-only workload, now hash-gated end to end): learn 16
    // merges from the corpus itself, then encode every document under
    // them. The oracle UNROLLS the merge loop as 16 chained MATERIALIZED
    // CTE layers (pair counts -> argmax with the count-desc/lexicographic
    // tie-break -> token-boundary-exact greedy merge application via a
    // separator-bracketed string replace), so the learned merge TABLE and
    // the per-doc subword counts both sit under the hash compare.
    // topWords is set above any correctness-scale vocabulary so the
    // truncation-free trainer and the oracle see the same word table; the
    // lowest-rank-first encode loop equals the oracle's rank-order
    // application (BpeEncodeEquivalenceSpec pins this on the real corpus).
    "d52_bpe_train_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = graft.operators.BpeTokenizer.learnMerges(
        docs, "text", numMerges = 16, topWords = 1 << 20)
      graft.operators.BpeTokenizer
        .encodeStats(s, docs, "doc_id", "text", merges)
        .toDF().orderBy("doc_id")
    }),

    // D53: the learned merge table itself (rank, lhs, rhs) — the artifact
    // a tokenizer-training run actually ships; same unrolled oracle, so a
    // tie-break or merge-sweep bug in the trainer breaks this gate even
    // when the d52 counts happen to coincide.
    "d53_bpe_merge_table" -> ((s, dir) => {
      import s.implicits._
      graft.operators.BpeTokenizer.learnMerges(
          t(s, dir, "documents"), "text", numMerges = 16, topWords = 1 << 20)
        .map(m => (m.rank.toLong, m.left, m.right))
        .toDF("rank", "lhs", "rhs").orderBy("rank")
    }),

    // D37: CCNet-style LM perplexity filter — a quantized (integer
    // floor-log2) bigram stupid-backoff LM trained on the doc_id%3!=0
    // slice scores EVERY document in whole bits; the per-doc
    // bits_per_kilotoken is the perplexity bucket a corpus-quality
    // pipeline thresholds on. Integer-exact end to end (same stance as
    // BM25): both engines compute floor(log2(count)) as
    // length(bin(count))-1, so the hash compare covers the full scoring
    // path — train counts, backoff branching, OOV penalties.
    "d37_lm_perplexity" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), TF.cleanTokens(col("text")).as("tokens"))
      graft.operators.NgramLm.perplexityBits(docs, "doc_id", "tokens",
          isTrain = col("doc_id") % 3 =!= 0)
        .orderBy("doc_id")
    }),

    // D38: exact-substring duplicate spans (Lee et al. 2022 ExactSubstr) —
    // every position whose 30-char substring recurs ANYWHERE in the corpus,
    // merged into maximal per-doc spans. The Spark side detects candidates
    // by 8-byte polynomial hash and verifies on raw substrings; the oracle
    // recomputes from raw substrings only, so the hash layer is proven to
    // be a pure pruner (collision-independent output).
    "d38_exact_substr" -> ((s, dir) =>
      graft.operators.ExactSubstr.dupSpanStats(
          t(s, dir, "documents"), "doc_id", "text", minLen = 30)
        .orderBy("doc_id")),

    // D39: distributed suffix array (prefix doubling) — every suffix of
    // the doc_id%5==0 slice gets its dense lexicographic rank corpus-wide
    // (the index behind arbitrary-length maximal-match dedup; D38 is the
    // fixed-L special case). The oracle recomputes ranks by sorting the
    // raw suffix STRINGS, so every doubling round, the distributed
    // dense-rank, and the tie semantics (identical cross-doc suffixes
    // share a rank) are all under the hash compare. The slice keeps the
    // oracle's O(n^2)-byte suffix sort tractable; the operator itself
    // never materializes a suffix string.
    "d39_suffix_ranks" -> ((s, dir) =>
      graft.operators.SuffixArray.suffixRanks(
          t(s, dir, "documents").where(col("doc_id") % 5 === 0),
          "doc_id", "text")
        .orderBy("doc_id", "p")),

    // D40: model-based quality classifier (quantized integer Naive Bayes,
    // the GPT-3/CCNet "train on trusted, score the crawl" stage). Trained
    // on the doc_id%3!=0 slice with lang='en' as the positive class; every
    // doc scores whole-bit log-odds. Integer-exact end to end (same
    // floor-log2 stance as d37/d33): the hash compare covers training
    // counts, Laplace smoothing, class normalizers, priors and the
    // decision threshold.
    "d40_nb_quality" -> ((s, dir) =>
      graft.operators.NbClassifier.classify(
          t(s, dir, "documents")
            .select(col("doc_id"), TF.cleanTokens(col("text")).as("tokens"),
              (col("lang") === "en").as("y")),
          "doc_id", "tokens", "y", isTrain = col("doc_id") % 3 =!= 0,
          cacheHook = registerCache)
        .orderBy("doc_id")),

    // D41: token-budget corpus selection — keep the best docs (by mean
    // word length x100, an integer quality bucket) until 30% of the
    // corpus's tokens are spent. The Spark side NEVER builds a global
    // order (histogram -> driver cutoff -> per-bucket window); the oracle
    // states the naive global-window cumsum rule — the two plans agreeing
    // is the point of the gate.
    "d41_token_budget" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), TF.cleanTokens(col("text")).as("w"))
        .select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"),
          aggregate(col("w"), lit(0L),
            (acc, x) => acc + length(x).cast("long")).as("suml"))
        .select(col("doc_id"),
          when(col("n_tokens") === 0L, 0L)
            .otherwise(expr("suml * 100 div n_tokens")).as("score"),
          col("n_tokens"))
      graft.operators.CorpusSelect.tokenBudgetSelectFraction(
          d, "doc_id", "score", "n_tokens", 3L, 10L)
        .orderBy("doc_id")
    }),

    // D42: host-graph PageRank (web-corpus curation centrality). A
    // deterministic synthetic link graph over doc-derived hosts runs
    // three integer-exact rounds; the oracle restates the recurrence as
    // chained CTEs, so every round's join+sum and the floor divisions are
    // all under the hash compare (trajectory output, not just fixpoint).
    "d42_host_pagerank" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val e = docs.select((col("doc_id") % 1000).as("src"),
          ((col("doc_id") * 7 + 1) % 1000).as("dst"))
        .union(docs.select((col("doc_id") % 1000).as("src"),
          ((col("doc_id") * 13 + 2) % 1000).as("dst")))
      graft.operators.PageRank.ranks(e, "src", "dst", iters = 3)
        .withColumnRenamed("node", "host")
        .orderBy("host")
    }),

    // X6: adversarial stress of d43's boundary-bucket window — one hot
    // host (doc_id%50==0, ~2% of the corpus) carries a CONSTANT score, so
    // its boundary (host,score) bucket IS the whole host: the documented
    // degenerate case where the bounded-window claim leans entirely on
    // doc_id tie-breaking. Same oracle rule as d43 over the skewed input.
    "x06_host_budget_skew" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"),
          concat(lit("h"), (col("doc_id") % 50).cast("string")).as("host"),
          TF.cleanTokens(col("text")).as("w"))
        .select(col("doc_id"), col("host"),
          size(col("w")).cast("long").as("n_tokens"),
          aggregate(col("w"), lit(0L),
            (acc, x) => acc + length(x).cast("long")).as("suml"))
        .select(col("doc_id"), col("host"),
          when(col("doc_id") % 50 === 0, 500L)
            .when(col("n_tokens") === 0L, 0L)
            .otherwise(expr("suml * 100 div n_tokens")).as("score"),
          col("n_tokens"))
      graft.operators.CorpusSelect.perKeyTokenBudgetSelect(
          d, "doc_id", "host", "score", "n_tokens", budget = 400L)
        .withColumnRenamed("key", "host")
        .orderBy("doc_id")
    }),

    // X7: adversarial stress of d41's boundary bucket — a CONSTANT-score
    // corpus collapses the cutoff bucket to the WHOLE corpus, the
    // documented degenerate of score-partitioned selection (x06's
    // treatment applied to the corpus-global form). The two-level cumsum
    // inside tokenBudgetSelect bounds every window partition regardless
    // of score skew (4096-doc_id leaves + a coarse pass over leaf
    // totals); the oracle states the same naive global-window rule as
    // d41 over the degenerate input.
    "x07_token_budget_degenerate" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), TF.cleanTokens(col("text")).as("w"))
        .select(col("doc_id"), lit(500L).as("score"),
          size(col("w")).cast("long").as("n_tokens"))
      graft.operators.CorpusSelect.tokenBudgetSelectFraction(
          d, "doc_id", "score", "n_tokens", 3L, 10L,
          maxBucketRows = 0L) // pin the two-level plan at gate scale
        .orderBy("doc_id")
    }),

    // D44: LSH estimator quality measurement (the e11 recall gate's
    // text-side sibling): per band-candidate pair, the 200-permutation
    // signature-agreement Jaccard estimate vs the exact shingle Jaccard,
    // with the absolute estimator error — all integer-exact, the whole
    // signature pipeline under the hash compare at per-permutation
    // granularity (d02 covers it only at band-key granularity).
    "d44_lsh_estimate" -> ((s, dir) =>
      Dedup.minhashEstimateQuality(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_a", "doc_b")),

    // D45: the COMPOSED curation pipeline — the product the whole §2.11
    // roster exists to ship, as one gate: NB classifier (d40) -> LM
    // perplexity filter (d37) -> near-dup prune (d02's verified-pair
    // rule) -> per-host cap (d43) -> global token budget (d41) ->
    // temperature mixture (k04), each stage consuming the PREVIOUS
    // stage's survivors (d11 proved composition gates catch semantics
    // stage gates can't: stage ordering, survivor-set plumbing, cache
    // discipline across consumers). The classifier's score_bits rides
    // through as the selection signal; the LM trains on the SURVIVORS'
    // trusted slice and keeps docs no worse than the survivor-mean
    // bits/kilotoken (zero-token docs keep — no evidence against them).
    // Output: one row per ORIGINAL doc with monotone per-stage survival
    // flags, so the hash compare pins every stage's survivor set. Scale
    // shape: every stage is its gated operator's exact plan over a
    // shrinking survivor set; survivor join-backs all key on doc_id (one
    // reusable shuffle key); at production scale each stage's survivors
    // would checkpoint to a lake table instead of the session cache.
    "d45_curation_pipeline" -> ((s, dir) => {
      import graft.operators.{BoundedRank, CorpusSelect, NbClassifier, NgramLm}
      // Stage boundary: materialize the survivors and CUT the lineage.
      // Without the cut the composed analyzed plan grows MULTIPLICATIVELY
      // (every stage's tree embeds the whole prefix several times over —
      // measured 195s of pure Catalyst plan processing at sf0.01, nearly
      // data-independent); with it each stage optimizes its own small
      // plan. localCheckpoint is the session-local stand-in for what a
      // production pipeline does anyway: checkpoint each stage's
      // survivors to a lake table.
      def stage(df: DataFrame): DataFrame = df.localCheckpoint(true)
      val docs = t(s, dir, "documents").select("doc_id", "text", "lang")
      val tok = registerCache(docs.select(col("doc_id"), col("lang"),
        col("text"), TF.cleanTokens(col("text")).as("tokens")))
      // 1. quality classifier: train on the raw corpus's trusted slice,
      //    keep docs the model calls positive.
      val s1 = stage(NbClassifier.classify(
          tok.select(col("doc_id"), col("tokens"),
            (col("lang") === "en").as("y")),
          "doc_id", "tokens", "y", isTrain = col("doc_id") % 3 =!= 0,
          cacheHook = registerCache)
        .where(col("predicted") === 1L)
        .select(col("doc_id"), col("score_bits")))
      val d1 = registerCache(tok.join(s1, "doc_id"))
      // 2. LM perplexity filter over the survivors.
      val ppl = NgramLm.perplexityBits(d1, "doc_id", "tokens",
        isTrain = col("doc_id") % 3 =!= 0)
      val lmd = d1.select(col("doc_id"), col("score_bits"))
        .join(ppl.select(col("doc_id"), col("n_tokens"), col("bits")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), col("score_bits"),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
          coalesce(col("bits"), lit(0L)).as("bits"))
      val mstat = lmd.agg(sum("bits").as("tb"), sum("n_tokens").as("tt"))
      val s2 = stage(lmd.crossJoin(broadcast(mstat))
        .where(col("n_tokens") === 0L ||
          expr("bits * 1000 div n_tokens") <=
            when(col("tt") > 0L, expr("tb * 1000 div tt")).otherwise(lit(0L)))
        .select("doc_id", "score_bits", "n_tokens"))
      // 3. near-dup prune: drop the larger id of every verified pair
      //    among survivors (keep-first, d11's rule).
      val pairs = Dedup.minhashNearDupPairs(
        tok.join(s2.select("doc_id"), "doc_id").select("doc_id", "text"),
        "doc_id", "text")
      val s3 = stage(s2.join(
        pairs.select(col("doc_b").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti"))
      // 4. per-host contribution cap, best-first by the classifier signal.
      // s4 deliberately carries NO stage cut (r15): the per-host cap and
      // the global budget are two window passes over the same small
      // survivor frame — cutting between them bought nothing (the cut
      // exists to stop MULTIPLICATIVE growth across the whole pipeline;
      // s5's plan embedding one extra stage is linear) and cost one eager
      // localCheckpoint materialization plus a plan compile per run.
      // s4 is consumed twice (s5's input and the flags fold) and
      // recomputes for the fold — still a measured ~20% d45 win across
      // an interleaved 4-leg A/B (2.99/2.71 vs 3.85/3.43 s).
      val s4 = CorpusSelect.perKeyTokenBudgetSelect(
          s3.withColumn("host",
            concat(lit("h"), (col("doc_id") % 50).cast("string"))),
          "doc_id", "host", "score_bits", "n_tokens", budget = 400L)
        .where(col("selected") === 1L)
        .select(col("doc_id"), col("score"), col("n_tokens"))
      // 5. global token budget: 30% of the SURVIVING tokens.
      val s5 = stage(CorpusSelect.tokenBudgetSelectFraction(
          s4, "doc_id", "score", "n_tokens", 3L, 10L)
        .where(col("selected") === 1L).select("doc_id"))
      // 6. temperature mixture over the final pool.
      val l6 = registerCache(s5.join(tok.select("doc_id", "lang"), "doc_id"))
      val wts = l6.groupBy("lang").agg(count(lit(1)).as("c"))
        .withColumn("w", TR.isqrt(col("c")))
      val quotas = wts.crossJoin(wts.agg(sum(col("w")).as("tot_w")))
        .select(col("lang"), expr("(100 * w) div tot_w").as("quota"))
      val s6 = BoundedRank.topKPerKey(l6, Seq("lang"),
          Seq(md5(col("doc_id").cast("string")), col("doc_id")), k = 100)
        .join(broadcast(quotas), "lang")
        .where(col("rk") <= col("quota"))
        .select("doc_id")
      def f(ids: DataFrame, n: String) =
        ids.select(col("doc_id")).withColumn(n, lit(1L))
      val flags = Seq("s_quality", "s_perplexity", "s_neardup",
        "s_hostcap", "s_budget", "s_mixture")
      Seq(s1, s2, s3, s4, s5, s6).zip(flags)
        .foldLeft(docs.select("doc_id")) { case (acc, (ids, n)) =>
          acc.join(f(ids, n), Seq("doc_id"), "left")
        }
        .select(col("doc_id") +:
          flags.map(n => coalesce(col(n), lit(0L)).as(n)): _*)
        .orderBy("doc_id")
    }),

    // D51: d45's pipeline with TRANSACTIONAL LAKE-TABLE stage boundaries
    // (VERDICT r9 ask #3 — "at production scale the checkpoints are lake
    // tables", shipped): every stage's survivor set COMMITS as a lake
    // table before the next stage reads it back, so each stage's plan
    // roots at a table scan (linear composed plan, same property the d45
    // localCheckpoint bought) AND the pipeline is durable — a run killed
    // between stages resumes from the last committed stage under the
    // build-stamp discipline (run_id + upstream-snapshot match, the
    // D30/E12 pattern; CurationPipelineSpec gates the restart). Semantics
    // are d45's exactly — same oracle; the gate uses a fresh run_id per
    // invocation so the BENCH row measures the full compute-and-commit
    // cost, never a resume read-back.
    "d51_curation_lake" -> ((s, dir) => {
      import graft.operators.{BoundedRank, CorpusSelect, CurationPipeline, NbClassifier, NgramLm}
      import graft.operators.CurationPipeline.Stage
      val loc = java.nio.file.Files.createTempDirectory("graft_d51_pipe").toString
      val docs = t(s, dir, "documents").select("doc_id", "text", "lang")
      val tok = registerCache(docs.select(col("doc_id"), col("lang"),
        col("text"), TF.cleanTokens(col("text")).as("tokens")))
      val stages = Seq(
        // 1. quality classifier (the root stage reads the corpus, not a
        //    survivor table — its upstream stamp is the run_id itself).
        Stage("quality", _ => NbClassifier.classify(
            tok.select(col("doc_id"), col("tokens"),
              (col("lang") === "en").as("y")),
            "doc_id", "tokens", "y", isTrain = col("doc_id") % 3 =!= 0,
            cacheHook = registerCache)
          .where(col("predicted") === 1L)
          .select(col("doc_id"), col("score_bits"))),
        // 2. LM perplexity filter over the committed quality survivors.
        Stage("perplexity", prev => {
          val d1 = registerCache(tok.join(prev, "doc_id"))
          val ppl = NgramLm.perplexityBits(d1, "doc_id", "tokens",
            isTrain = col("doc_id") % 3 =!= 0)
          val lmd = d1.select(col("doc_id"), col("score_bits"))
            .join(ppl.select(col("doc_id"), col("n_tokens"), col("bits")),
              Seq("doc_id"), "left")
            .select(col("doc_id"), col("score_bits"),
              coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
              coalesce(col("bits"), lit(0L)).as("bits"))
          val mstat = lmd.agg(sum("bits").as("tb"), sum("n_tokens").as("tt"))
          lmd.crossJoin(broadcast(mstat))
            .where(col("n_tokens") === 0L ||
              expr("bits * 1000 div n_tokens") <=
                when(col("tt") > 0L, expr("tb * 1000 div tt"))
                  .otherwise(lit(0L)))
            .select("doc_id", "score_bits", "n_tokens")
        }),
        // 3. near-dup prune among the committed survivors.
        Stage("neardup", prev => prev.join(
          Dedup.minhashNearDupPairs(
              tok.join(prev.select("doc_id"), "doc_id").select("doc_id", "text"),
              "doc_id", "text")
            .select(col("doc_b").as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti")),
        // 4. per-host contribution cap.
        Stage("hostcap", prev => CorpusSelect.perKeyTokenBudgetSelect(
            prev.withColumn("host",
              concat(lit("h"), (col("doc_id") % 50).cast("string"))),
            "doc_id", "host", "score_bits", "n_tokens", budget = 400L)
          .where(col("selected") === 1L)
          .select(col("doc_id"), col("score"), col("n_tokens"))),
        // 5. global token budget: 30% of the surviving tokens.
        Stage("budget", prev => CorpusSelect.tokenBudgetSelectFraction(
            prev, "doc_id", "score", "n_tokens", 3L, 10L)
          .where(col("selected") === 1L).select("doc_id")),
        // 6. temperature mixture over the final pool.
        Stage("mixture", prev => {
          val l6 = registerCache(prev.join(tok.select("doc_id", "lang"), "doc_id"))
          val wts = l6.groupBy("lang").agg(count(lit(1)).as("c"))
            .withColumn("w", TR.isqrt(col("c")))
          val quotas = wts.crossJoin(wts.agg(sum(col("w")).as("tot_w")))
            .select(col("lang"), expr("(100 * w) div tot_w").as("quota"))
          BoundedRank.topKPerKey(l6, Seq("lang"),
              Seq(md5(col("doc_id").cast("string")), col("doc_id")), k = 100)
            .join(broadcast(quotas), "lang")
            .where(col("rk") <= col("quota"))
            .select("doc_id")
        }))
      val outs = CurationPipeline.run(s, loc,
        runId = java.util.UUID.randomUUID().toString,
        input = docs.select("doc_id"), stages)
      def f(ids: DataFrame, n: String) =
        ids.select(col("doc_id")).withColumn(n, lit(1L))
      val flags = Seq("s_quality", "s_perplexity", "s_neardup",
        "s_hostcap", "s_budget", "s_mixture")
      outs.zip(flags)
        .foldLeft(docs.select("doc_id")) { case (acc, (ids, n)) =>
          acc.join(f(ids, n), Seq("doc_id"), "left")
        }
        .select(col("doc_id") +:
          flags.map(n => coalesce(col(n), lit(0L)).as(n)): _*)
        .orderBy("doc_id")
    }),

    // D43: per-host token budgets (the C4/RefinedWeb per-domain
    // contribution cap): within each host, best docs first until 400
    // tokens. The Spark side never holds a whole host in one task (the
    // cutoff derives from per-(host,score) histogram rows; only the one
    // boundary bucket does ordered work); the oracle states the naive
    // per-host global-window rule.
    "d43_host_budget" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"),
          concat(lit("h"), (col("doc_id") % 50).cast("string")).as("host"),
          TF.cleanTokens(col("text")).as("w"))
        .select(col("doc_id"), col("host"),
          size(col("w")).cast("long").as("n_tokens"),
          aggregate(col("w"), lit(0L),
            (acc, x) => acc + length(x).cast("long")).as("suml"))
        .select(col("doc_id"), col("host"),
          when(col("n_tokens") === 0L, 0L)
            .otherwise(expr("suml * 100 div n_tokens")).as("score"),
          col("n_tokens"))
      graft.operators.CorpusSelect.perKeyTokenBudgetSelect(
          d, "doc_id", "host", "score", "n_tokens", budget = 400L)
        .withColumnRenamed("key", "host")
        .orderBy("doc_id")
    }),

    // D46: sequence packing (GPT-style concatenate-and-chunk placement) —
    // the LAST transform of a pretraining pipeline: docs concatenate in
    // doc_id order and the token stream cuts into 512-token training
    // sequences; the output maps every doc to its global offset and
    // spanned sequences. The Spark side NEVER sorts the corpus in one
    // partition (two-level prefix sum over doc_id high-bit leaves); the
    // oracle states the naive global-window cumsum — the equivalence is
    // the gate.
    // D50: sliding-window document chunking — the retrieval/embedding
    // prep transform (RAG indexing, long-doc embedding): 120-char chunks
    // every 40 chars with exact 1-based offsets and per-chunk md5, so
    // the extraction itself sits under the hash compare. One in-row
    // explode, no shuffle until presentation.
    "d50_doc_chunking" -> ((s, dir) =>
      graft.operators.DocChunk.chunks(
          t(s, dir, "documents"), "doc_id", "text", size = 120, stride = 40)
        .orderBy("doc_id", "chunk_id")),

    // D54: PII redaction — the pre-release scrub every production corpus
    // runs (C4-style): emails / IPv4 / phones / 13+-digit IDs replaced by
    // typed placeholders in ONE codegen'd scan (graft_redact_pii — no
    // UDF, no shuffle; the kernel grammar is documented on
    // RedactKernels). The gate PLANTS entities analytically (the corpus
    // text itself is [a-z ]-only, so the expected redacted string is
    // known byte-for-byte): docs get an email unless id%3==0, a phone
    // unless id%5==0, and always one IP and one 13-digit account number.
    // md5 of the redacted text + placeholder counts sit under the hash
    // compare — a matcher that over- or under-fires anywhere breaks it.
    "d54_pii_redaction" -> ((s, dir) => {
      val id = col("doc_id")
      val planted = concat(
        col("text"),
        when(id % 3 =!= 0, concat(lit(" mail u"), id.cast("string"),
          lit("x@h"), (id % 7).cast("string"), lit("b.example")))
          .otherwise(lit("")),
        when(id % 5 =!= 0, concat(lit(" plus +4415550"),
          lpad((id % 1000).cast("string"), 4, "0"))).otherwise(lit("")),
        lit(" net 10."), (id % 256).cast("string"), lit("."),
        ((id * 7) % 256).cast("string"), lit("."), (id % 200).cast("string"),
        lit(" acct "), lpad((id % 100000).cast("string"), 13, "0"))
      t(s, dir, "documents").select(id, planted.as("ptext"))
        .select(id, expr("graft_redact_pii(ptext)").as("red"))
        .select(id,
          length(col("red")).cast("long").as("red_len"),
          md5(col("red").cast("binary")).as("red_md5"),
          expr("CAST((length(red) - length(replace(red, '[EMAIL]', ''))) div 7 AS BIGINT)")
            .as("n_email"),
          expr("CAST((length(red) - length(replace(red, '[PHONE]', ''))) div 7 AS BIGINT)")
            .as("n_phone"),
          expr("CAST((length(red) - length(replace(red, '[IP]', ''))) div 4 AS BIGINT)")
            .as("n_ip"),
          expr("CAST((length(red) - length(replace(red, '[NUMBER]', ''))) div 8 AS BIGINT)")
            .as("n_number"))
        .orderBy("doc_id")
    }),

    // D49: multi-class quantized Naive Bayes — lang-id over the observed
    // language set (the many-label sibling of d40's binary gate; CLD-style
    // classification where log-odds don't apply). Per-class floor-log2
    // scores with Laplace smoothing + prior, argmax with smallest-label
    // tie-break — integer-exact, the full K-class scoring matrix under
    // the hash compare.
    "d49_nb_multiclass" -> ((s, dir) =>
      graft.operators.MulticlassNb.classify(
          t(s, dir, "documents")
            .select(col("doc_id"), TF.cleanTokens(col("text")).as("tokens"),
              col("lang")),
          "doc_id", "tokens", "lang", isTrain = col("doc_id") % 3 =!= 0,
          cacheHook = registerCache)
        .orderBy("doc_id")),

    // D48: classifier calibration — the threshold sweep over the held-out
    // slice that a curation team consults before fixing d40's admission
    // threshold: per distinct score, confusion counts + floor-scaled
    // precision/recall of "admit iff score >= t". One histogram groupBy
    // (bounded by score cardinality) + a window over HISTOGRAM rows; the
    // oracle recomputes the full quantized NB scoring, then the sweep.
    "d48_classifier_calibration" -> ((s, dir) =>
      graft.operators.ClassifierEval
        .thresholdSweep(d48HeldOutScored(s, dir), "score_bits", "y")
        .orderBy("threshold")),

    // D48b: d48's PRE-SWEEP histogram as its own gate — one row per
    // distinct held-out score with its positive/negative counts (the `h`
    // stage of the sweep). Diagnostic by design (VERDICT r10 #1): the
    // scoring half is shared with d40/d48, the cumulative-window half is
    // d48-only, so whichever way a cross-engine d48 mismatch lands, this
    // row localizes it (d48b red => scoring; d48b green + d48 red =>
    // sweep arithmetic).
    "d48b_calibration_hist" -> ((s, dir) =>
      graft.operators.ClassifierEval
        .scoreHistogram(d48HeldOutScored(s, dir), "score_bits", "y")
        .orderBy("threshold")),

    // D47: the exact-substring CUT applied (the action d38 reports): every
    // duplicate span removed, kept segments re-assembled per document —
    // the md5 of the rebuilt text puts the whole cut path (span detection,
    // merge, segment stitching, edge spans at both ends) under the hash
    // compare. Span lists are bounded by document length; the rebuild is
    // one in-row fold.
    "d47_exact_substr_cut" -> ((s, dir) =>
      graft.operators.ExactSubstr.removeDupSpans(
          t(s, dir, "documents"), "doc_id", "text", minLen = 30)
        .select(col("doc_id"),
          length(col("clean_text")).cast("long").as("clean_len"),
          md5(col("clean_text").cast("binary")).as("clean_md5"))
        .orderBy("doc_id")),

    "d46_sequence_pack" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"),
          size(TF.cleanTokens(col("text"))).cast("long").as("n"))
      graft.operators.SequencePack.packStats(d, "doc_id", "n", cap = 512L)
        .orderBy("doc_id")
    }),

    // K11: SFT pair packing with LOSS MASKS — d46's concatenate-and-chunk
    // extended to (prompt, completion) examples: the mask is the
    // completion's half-open token interval, and its sequence span is
    // computed alongside the example's. The %19==0 rows are
    // completion-less (nothing to train on -> null mask span, but the
    // example still occupies stream space — the oracle states both).
    "k11_sft_pack_masks" -> ((s, dir) => {
      val pairs = t(s, dir, "documents").select(col("doc_id"),
        (lit(5L) + col("doc_id") % 40).as("np"),
        when(col("doc_id") % 19 === 0, 0L)
          .otherwise(lit(1L) + col("doc_id") % 60).as("nc"))
      graft.operators.SequencePack
        .packPairsWithMasks(pairs, "doc_id", "np", "nc", cap = 256L)
        .orderBy("pair_id")
    }),

    // D15: LSH pairs -> per-cluster canonical keeper via distributed
    // connected components (min-label propagation over the pair graph).
    "d15_dup_clusters" -> ((s, dir) =>
      Dedup.duplicateClusters(
        Dedup.minhashNearDupPairs(t(s, dir, "documents"), "doc_id", "text")
          .select("doc_a", "doc_b"))
        .orderBy("doc_id")),

    // D31: the same duplicate-cluster semantics through alternating
    // large-star/small-star rounds — O(log n) rounds instead of graph
    // diameter, for corpora whose near-dup graph has long drift chains.
    // Shares d15's oracle: both must produce identical canonical labels.
    "d31_dup_clusters_star" -> ((s, dir) =>
      Dedup.duplicateClustersStar(
        Dedup.minhashNearDupPairs(t(s, dir, "documents"), "doc_id", "text")
          .select("doc_a", "doc_b"))
        .orderBy("doc_id")),

    // D16: PII scrub — deterministic synthetic addresses/numbers appended
    // per doc exercise the regex machinery cross-engine; counts are taken
    // on the pre-redaction text, the redacted text is md5-compared.
    "d16_pii_redact" -> ((s, dir) => {
      val aug = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"), lit("@example.com"),
        lit(" or 555-867-5309 from 10.0."),
        (col("doc_id") % 256).cast("string"), lit(".7"))
      t(s, dir, "documents").select(col("doc_id"), aug.as("aug"))
        .select(col("doc_id"),
          TF.piiCount(col("aug"), TF.EmailPattern).as("n_emails"),
          TF.piiCount(col("aug"), TF.PhonePattern).as("n_phones"),
          TF.piiCount(col("aug"), TF.Ipv4Pattern).as("n_ips"),
          md5(TF.piiRedact(col("aug")).cast("binary")).as("redacted_md5"))
        .orderBy("doc_id")
    }),

    // K3: mixture sampling — per-source quotas (data mixing): named
    // sources get their weight, the long tail a default; rank by a
    // content-independent hash so the draw is deterministic and the
    // shuffle is one exchange on the source key.
    "k03_mixture_sample" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val quota = when(col("source") === "src0", 12)
        .when(col("source") === "src1", 8)
        .when(col("source") === "src5", 5)
        .otherwise(2)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      d.select(col("source"), col("doc_id"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= quota)
        .orderBy("source", "rk")
    }),

    "d10_winnow_containment" -> ((s, dir) =>
      Dedup.winnowContainmentPairs(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_a", "doc_b")),

    // K5: training-export sharding — the deterministic "global shuffle"
    // every trainer wants: docs land in hash shards, and the within-shard
    // read order is a content-independent hash rank (reproducible in any
    // engine, stable under re-runs). One exchange on the shard key; the
    // per-shard ordering cost is bounded by corpus/nShards.
    "k05_shard_export" -> ((s, dir) => {
      val nShards = 8
      val d = t(s, dir, "documents").select(col("doc_id"),
        (TF.portableHash(col("doc_id").cast("string")) % nShards).as("shard"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("shard")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      d.withColumn("pos", row_number().over(w).cast("long"))
        .orderBy("shard", "pos")
    }),

    // D25: deterministic train/val/test split — bucket by the portable
    // content-independent hash of the doc id (90/5/5), so membership is
    // stable under corpus growth and reproducible in any engine; pure
    // projection, no shuffle.
    "d25_dataset_split" -> ((s, dir) => {
      val bucket = TF.portableHash(col("doc_id").cast("string")) % 100
      t(s, dir, "documents")
        .select(col("doc_id"), bucket.as("bucket"),
          when(bucket < 90, "train").when(bucket < 95, "val")
            .otherwise("test").as("split"))
        .orderBy("doc_id")
    }),

    // D23: incremental dedup — the daily-ingest probe: "new" docs
    // (id % 10 == 0 stands in for today's batch) checked against the
    // indexed corpus via the banded LSH index; band keys and the bucket
    // cap span the full corpus (the cap guards the index, not a batch).
    "d23_incremental_dedup" -> ((s, dir) =>
      Dedup.incrementalNearDup(
        t(s, dir, "documents").withColumn("is_new", col("doc_id") % 10 === 0),
        "doc_id", "text", "is_new")
        .orderBy("doc_id")),

    // D30: the same probe THROUGH the persisted index — build lands the
    // capped band keys + shingle sets as transactional lake tables, the
    // batch probes the stored tables (band-key matches only). Unlike d23,
    // the df-cap here spans the INDEXED corpus alone (the index guards
    // itself; a batch is small by construction) — the oracle caps the
    // indexed side only and leaves the new side uncapped, mirroring the
    // build/probe split exactly.
    "d30_lsh_index_probe" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val loc = java.nio.file.Files.createTempDirectory("graft_d30_idx").toString
      graft.operators.LshIndex.build(s, docs.where(col("doc_id") % 10 =!= 0),
        loc, "doc_id", "text")
      graft.operators.LshIndex.probe(s, loc,
        docs.where(col("doc_id") % 10 === 0), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Trained IVF: deterministic Lloyd's k-means (init = k lowest vec_ids,
    // tie-break on cell id, decimal-accumulated means) then a final
    // nearest-centroid assignment; the oracle unrolls the same iterations.
    "e05_kmeans_ivf_cells" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = Similarity.trainCentroids(emb, 8, 2)
      Similarity.assignCells(emb, cents)
        .groupBy("cell")
        .agg(count(lit(1)).as("n_vectors"), min(col("vec_id")).as("min_vec_id"))
        .orderBy("cell")
    }),

    // LSH-bucketed embedding near-dup: the sign-random-projection (cosine
    // LSH) alternative to the e04 cell join.
    "e07_hyperplane_lsh_near_dup" -> ((s, dir) =>
      Similarity.hyperplaneLshNearDupPairs(t(s, dir, "embeddings"),
          dim = 64, numPlanes = 8, threshold = 0.35)
        .orderBy("vec_a", "vec_b")),

    // The full trained-IVF search path: k-means cells from e05's quantizer,
    // then the probe restricted to its coarse cell — end-to-end ANN with a
    // trained index, oracle-gated.
    "e06_kmeans_ivf_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = Similarity.trainCentroids(emb, 8, 2)
      val withCell = Similarity.withAssignedCells(emb, cents)
      Similarity.knnIvf(withCell, withCell.where(col("vec_id") < 10), "cell", 5)
        .orderBy("query_id", "rank")
    }),

    // E11: ANN recall measurement — recall@5 of the trained IVF against
    // brute-force ground truth, per query: the index-quality gate a real
    // pipeline runs BEFORE deploying an approximate index. Membership-
    // based (rank sets, not scores), so the comparison is integer-exact;
    // the truth pass streams the corpus once against the broadcast query
    // set, the IVF pass touches one cell per query.
    "e11_ivf_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = Similarity.trainCentroids(emb, 8, 2)
      val withCell = Similarity.withAssignedCells(emb, cents)
      val q = emb.where(col("vec_id") < 10)
      val truth = Similarity.knnBruteForce(emb, q, 5)
        .select("query_id", "neighbor_id")
      val approx = Similarity.knnIvf(withCell,
          withCell.where(col("vec_id") < 10), "cell", 5)
        .select("query_id", "neighbor_id")
      val hits = truth.join(approx, Seq("query_id", "neighbor_id"))
        .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
      q.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          expr("(coalesce(n_hits, 0) * 1000000) div 5").as("recall_e6"))
        .orderBy("query_id")
    }),

    // D17: SemDeDup (Abbas et al. 2023) — semantic dedup through the trained
    // quantizer: k-means clusters bound the pair space, within-cluster
    // cosine >= τ marks the higher vec_id a duplicate of the lower. The
    // oracle unrolls the identical Lloyd iterations and mirrors the rule.
    "d17_semdedup" -> ((s, dir) =>
      Similarity.semDedupKeep(t(s, dir, "embeddings"), 8, 2, 0.35)
        .orderBy("vec_id")),

    // D18: distinctive-term extraction — the deterministic core of tf-idf
    // keyword tagging without float logs: per doc, the term maximizing
    // (tf DESC, df ASC, term ASC). Two shuffles (term df, doc argmax) with
    // map-side partial aggregation; the argmax is a min_by on a composite
    // key, NOT a window over the exploded token stream.
    "d18_keyterms" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), explode(TF.cleanTokens(col("text"))).as("term"))
      // df derives FROM tf (tf rows are exactly the distinct (doc, term)
      // pairs): the token stream explodes and shuffles once, cached, instead
      // of a second full explode + distinct pass for the df branch.
      val tf = registerCache(
        toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      tf.join(df, "term")
        .groupBy("doc_id")
        .agg(min_by(struct(col("term"), col("tf"), col("df")),
          struct((-col("tf")).as("ntf"), col("df"), col("term"))).as("kt"))
        .select(col("doc_id"), col("kt.term").as("term"),
          col("kt.tf").as("tf"), col("kt.df").as("df"))
        .orderBy("doc_id")
    }),

    // D19: per-language corpus length statistics with EXACT nearest-rank
    // percentiles computed from the value histogram: one shuffle on
    // (lang, n_chars) with map-side partial counts, then a running sum
    // over the (small) distinct-value rows per language — never a global
    // sort of the documents. Nearest-rank p = smallest value whose
    // cumulative count reaches ceil(p*n/100), in pure integer arithmetic.
    "d19_corpus_stats" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("lang"), length(col("text")).cast("long").as("n_chars"))
      val hist = d.groupBy("lang", "n_chars").agg(count(lit(1)).as("c"))
      val wCum = Window.partitionBy("lang").orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist
        .withColumn("cum", sum("c").over(wCum))
        .withColumn("n", sum("c").over(Window.partitionBy("lang")))
      cum.groupBy("lang").agg(
          sum(col("c")).as("n_docs"),
          sum(col("c") * col("n_chars")).as("total_chars"),
          min(when(col("cum") >= expr("(n*50 + 99) div 100"), col("n_chars"))).as("p50_chars"),
          min(when(col("cum") >= expr("(n*90 + 99) div 100"), col("n_chars"))).as("p90_chars"),
          min(when(col("cum") >= expr("(n*99 + 99) div 100"), col("n_chars"))).as("p99_chars"))
        .orderBy("lang")
    }),

    // E10: multi-probe trained IVF — each query probes its 2 nearest
    // k-means cells (the recall knob: more cells, more recall, linear
    // cost). Cell ranking on the tiny q x k set; corpus joined by cell.
    "e10_ivf_multiprobe" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = Similarity.trainCentroids(emb, 8, 2)
      Similarity.knnIvfMultiProbe(emb, emb.where(col("vec_id") < 10), cents,
          nprobe = 2, k = 5)
        .orderBy("query_id", "rank")
    }),

    // E08: product-quantization ANN — per-subspace trained codebooks,
    // shuffle-free encode, asymmetric-distance top-k. The oracle unrolls
    // all m sub-quantizers' Lloyd iterations and mirrors the ADC sum.
    "e08_pq_adc_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.pqTopK(emb, emb.where(col("vec_id") < 10),
          m = 4, dim = 64, k = 8, iters = 1, topK = 5)
        .orderBy("query_id", "rank")
    }),

    // E16: PQ recall measurement — completes the recall family (e11 IVF,
    // e15 SQ8): per query, |PQ-ADC top-5 ∩ exact-L2 top-5| / 5, the trust
    // number for the ~64x-compressed codes.
    "e16_pq_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 10)
      val approx = Similarity.pqTopK(emb, q,
        m = 4, dim = 64, k = 8, iters = 1, topK = 5)
      Similarity.recallAtKExactL2(emb, q, approx, 5).orderBy("query_id")
    }),

    // E21: recall@k for the IVF-PQ tier (every ANN tier ships with its
    // recall measurement — e11/e15/e16's discipline). The truth side
    // ranks the FULL corpus, so the number is honest about both the PQ
    // quantization loss AND the cells that exclude true neighbors.
    "e21_ivf_pq_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 10)
      val approx = Similarity.pqTopKIvf(emb, q, "label",
          m = 4, dim = 64, k = 8, iters = 1, topK = 5)
        .select("query_id", "neighbor_id")
      Similarity.recallAtKExactL2(emb, q, approx, 5).orderBy("query_id")
    }),

    // E12: the same search THROUGH the persisted index — train + encode
    // once into lake tables (codebooks + ~64x-smaller codes), then serve
    // top-k reading ONLY the codes table. Same oracle as e08: the
    // build/serve split must be invisible in the results.
    // E20: IVF-PQ — faiss IndexIVFPQ, the production-standard ANN
    // composition (e02's coarse-cell probe restriction x e08's PQ-ADC
    // quantized scoring, both compression axes at once). One cell-id
    // equi-join (1/nCells of the corpus read per probe wave), the ~64x
    // smaller code table is what's scanned, salted bounded ranking.
    "e20_ivf_pq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.pqTopKIvf(emb, emb.where(col("vec_id") < 10), "label",
          m = 4, dim = 64, k = 8, iters = 1, topK = 5)
        .orderBy("query_id", "rank")
    }),

    "e12_pq_index_search" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val loc = java.nio.file.Files.createTempDirectory("graft_e12_idx").toString
      graft.operators.PqIndex.build(s, emb, loc, m = 4, dim = 64, k = 8, iters = 1)
      graft.operators.PqIndex.search(s, loc, emb.where(col("vec_id") < 10), topK = 5)
        .orderBy("query_id", "rank")
    }),

    // E09: two-stage retrieval — PQ/ADC candidate generation (top-20) then
    // exact-cosine re-rank of the short candidate list (top-5). The cheap
    // quantized scan bounds the expensive exact pass to R rows per query —
    // the standard recall/cost trade of a production ANN stack.
    "e09_pq_rerank" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 10)
      val cand = Similarity.pqTopK(emb, q, m = 4, dim = 64, k = 8, iters = 1,
        topK = 20).select("query_id", "neighbor_id")
      val qq = broadcast(q.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb")))
      val scored = cand
        .join(emb.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("n_emb")), "neighbor_id")
        .join(qq, "query_id")
        .select(col("query_id"), col("neighbor_id"),
          round(VF.cosine(col("q_emb"), col("n_emb")), 6).as("score"))
      Similarity.topK(scored, 5).orderBy("query_id", "rank")
    }),

    // D20: document chunking — fixed token windows (64) with stride 48
    // (16-token overlap), the segmentation step before tokenization/RAG
    // indexing. Linear: sequence+slice explode per row, no shuffle; chunk
    // text reported as md5 to keep the gate output compact.
    "d20_chunking" -> ((s, dir) => {
      val win = 64
      val stride = 48
      val d = t(s, dir, "documents")
        .select(col("doc_id"), TF.cleanTokens(col("text")).as("toks"))
        .withColumn("n", size(col("toks")).cast("long"))
        .where(col("n") > 0)
      d.select(col("doc_id"), col("toks"), col("n"),
          explode(sequence(lit(0L), col("n") - 1L, lit(stride.toLong))).as("tok_start"))
        .select(col("doc_id"),
          (col("tok_start") / stride).cast("long").as("chunk_idx"),
          col("tok_start"),
          least(lit(win.toLong), col("n") - col("tok_start")).as("chunk_len"),
          md5(concat_ws(" ",
            slice(col("toks"), col("tok_start").cast("int") + 1, lit(win)))
            .cast("binary")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_idx")
    }),

    // D21: out-of-vocabulary rate — per-doc fraction of tokens outside the
    // top-100-by-frequency vocabulary (tokenizer-coverage report). Vocab
    // selection is a tree-reduced TakeOrdered (never a single-partition
    // sort); the membership join broadcasts the tiny vocab.
    "d21_oov_rate" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), explode(TF.cleanTokens(col("text"))).as("term"))
      val vocab = toks.groupBy("term").agg(count(lit(1)).as("tf"))
        .orderBy(col("tf").desc, col("term").asc).limit(100)
        .select(col("term"), lit(1L).as("in_v"))
      toks.join(broadcast(vocab), Seq("term"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("in_v").isNull, 1L).otherwise(0L)).as("n_oov"))
        .select(col("doc_id"), col("n_tokens"), col("n_oov"),
          expr("(n_oov * 1000000) div n_tokens").as("oov_frac_e6"))
        .orderBy("doc_id")
    }),

    // D22: sequence packing — documents concatenated in id order within a
    // hash shard and cut every 512 tokens (GPT-style context packing).
    // The running sum is per-shard (shard-partitioned window), so the
    // packing parallelizes across shards at any corpus size.
    "d22_sequence_pack" -> ((s, dir) => {
      val ctx = 512L
      val shards = 16L
      val d = t(s, dir, "documents")
        .select(col("doc_id"), TF.tokenCount(col("text")).as("n_tokens"))
        .withColumn("shard", col("doc_id") % shards)
      val w = Window.partitionBy("shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      d.withColumn("cum", sum("n_tokens").over(w))
        .select(col("doc_id"), col("shard"), col("n_tokens"),
          expr(s"(cum - n_tokens) div $ctx").as("pack_id"),
          expr(s"(cum - n_tokens) % $ctx").as("pack_offset"))
        .orderBy("doc_id")
    }),

    // Composite quality scoring: punct/digit ratios, mean word length, and a
    // Gopher-style keep heuristic — all in floor-scaled integer arithmetic
    // so any partial-aggregation order reproduces the oracle bit-for-bit.
    "d09_quality_score" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      // token array bound once for the three token stats (guide §4)
      d.select(col("doc_id"), col("text"), TF.tokens(col("text")).as("w"))
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars"),
          TF.punctCount(col("text")).as("n_punct"),
          TF.digitCount(col("text")).as("n_digits"),
          TF.tokenCountOfTokens(col("w")).as("n_tokens"),
          TF.tokenCharsOfTokens(col("w")).as("tok_chars"),
          TF.stopwordCountOfTokens(col("w")).as("n_stop"))
        .select(col("doc_id"),
          expr("CASE WHEN n_chars > 0 THEN (n_punct * 1000000) div n_chars ELSE 0 END")
            .as("punct_ratio_e6"),
          expr("CASE WHEN n_chars > 0 THEN (n_digits * 1000000) div n_chars ELSE 0 END")
            .as("digit_ratio_e6"),
          expr("CASE WHEN n_tokens > 0 THEN (tok_chars * 1000) div n_tokens ELSE 0 END")
            .as("mean_token_len_e3"),
          expr("""n_tokens >= 5 AND n_stop >= 1 AND
                  (CASE WHEN n_chars > 0 THEN (n_punct * 1000000) div n_chars ELSE 0 END)
                    <= 200000""").as("keep"))
        .orderBy("doc_id")
    }),

    // ---- training-data pipeline: text analysis ------------------------
    "d04_text_stats" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      // token array bound ONCE (guide §4 / the gopher lesson): the two
      // token stats over an inline split would each re-run the tokenize
      // per row, because array HOFs evaluate interpreted with no CSE
      d.select(col("doc_id"), col("text"), TF.tokens(col("text")).as("w"))
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars2"),
          TF.tokenCountOfTokens(col("w")).as("n_tokens"),
          TF.stopwordCountOfTokens(col("w")).as("n_stopwords"),
          TF.regexTokenCount(col("text")).cast("long").as("n_regex_tokens"))
        .withColumn("stopword_ratio_e6",
          expr("CAST((n_stopwords * 1000000) div n_tokens AS BIGINT)"))
        .orderBy("doc_id")
    }),

    "d05_lang_id" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), TF.tokens(col("text")).as("w"))
        .select(col("doc_id"), col("lang"),
          TF.langIdHeuristicOfTokens(col("w")).as("lang_pred"))
        .orderBy("doc_id")),

    "d06_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy(TF.fingerprint(col("text")).as("fingerprint"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("cnt"))
        .orderBy("keep_id")),

    // ---- training-data pipeline: similarity search --------------------
    "e01_knn_bruteforce" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.knnBruteForce(emb, emb.where(col("vec_id") < 10), 5)
        .orderBy("query_id", "rank")
    }),

    "e02_ann_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.knnIvf(emb, emb.where(col("vec_id") < 10), "label", 5)
        .orderBy("query_id", "rank")
    }),

    // E13: scalar-quantized (SQ8) ANN — the faiss QT_8bit tier: 4x
    // compressed codes, symmetric integer code distance. The whole
    // path — per-dim min/max training, the floor(((x-mn)*255)/range)
    // boundary arithmetic, clamping, integer ADC and tie-break — is
    // under the hash compare (fixed-shape IEEE double math both engines
    // evaluate identically; distances are pure integers).
    "e13_sq8_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val model = graft.operators.ScalarQuant.fit(emb)
      graft.operators.ScalarQuant.topK(
          emb, emb.where(col("vec_id") < 10), 5, model)
        .orderBy("query_id", "rank")
    }),

    // E17: two-stage retrieval — the faiss IndexRefineFlat pattern (the
    // production vector-store shape): SQ8 code scan keeps a 20-candidate
    // pool per query, ONLY the pool re-ranks by exact squared L2 on the
    // raw vectors. Full-precision cost per query collapses from |corpus|
    // to 20; the final order is exact over the pool.
    "e17_sq8_refine_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val model = graft.operators.ScalarQuant.fit(emb)
      graft.operators.ScalarQuant.topKRefined(
          emb, emb.where(col("vec_id") < 10), 5, 20, model)
        .orderBy("query_id", "rank")
    }),

    // E15: SQ8 recall measurement (e11's gate for this compression tier):
    // per query, |SQ top-5 ∩ exact-L2 top-5| / 5 — the number a recipe
    // consults before trusting the 4x-compressed index.
    "e15_sq8_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val model = graft.operators.ScalarQuant.fit(emb)
      graft.operators.ScalarQuant.recallAtK(
          emb, emb.where(col("vec_id") < 10), 5, model)
        .orderBy("query_id")
    }),

    // E14: IVF-SQ8 (faiss IndexIVFScalarQuantizer) — the e02 coarse-cell
    // probe composed with e13's integer code distance: cells bound the
    // candidate space, codes bound the bytes per candidate.
    "e14_ivf_sq8_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val model = graft.operators.ScalarQuant.fit(emb)
      graft.operators.ScalarQuant.topKIvf(
          emb, emb.where(col("vec_id") < 10), "label", 5, model)
        .orderBy("query_id", "rank")
    }),

    "e03_centroids" -> ((s, dir) =>
      Similarity.centroids(t(s, dir, "embeddings"), "label")
        .orderBy("cell", "dim")),

    // Embedding-cosine near-dup pairs within coarse cells (5th dedup
    // modality; no cross join — the join shuffles on the cell id).
    // Threshold 0.35: the synthetic corpus plants no true duplicates (max
    // same-cell cosine ~0.45), so a demonstrative threshold keeps the
    // result set non-trivial while exercising the exact same plan.
    "e04_embedding_near_dup" -> ((s, dir) =>
      Similarity.cosineNearDupPairs(t(s, dir, "embeddings"), "label", 0.35)
        .orderBy("vec_a", "vec_b")),

    // D55: embedding-space decontamination — the SEMANTIC sibling of the
    // surface-overlap purge (d14 fingerprints, d28 n-gram fractions): a
    // training vector cosine-close to any benchmark vector is dropped
    // even when no n-gram overlaps. Benchmark = the pinned evalSlice (an
    // eval suite: small by CONTRACT — 10 vectors at every sf, broadcast),
    // corpus = the rest, streamed once through the codegen cosine kernel.
    // Threshold 0.30 keeps the hit set non-trivial on the synthetic
    // embeddings (same stance as e04's 0.35). The benchmark side was a
    // bare %50 slice until r14 (VERDICT r13 #1): that grew 10x per sf
    // step, so the measured sf1 ratio (18.42x) priced fixture growth,
    // not corpus cost — the pin restores the ratio gate's meaning.
    "d55_semantic_decontaminate" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.semanticDecontaminate(
          corpusSlice(emb), evalSlice(emb), 0.30)
        .orderBy("vec_id")
    }),

    // D56: hard-negative mining — the contrastive-training batch builder:
    // for each anchor (vec_id %50==0, the d55 eval-slice convention, here
    // standing in for a training batch), the 5 nearest-by-cosine corpus
    // vectors with a DIFFERENT label. Anchors broadcast; the corpus
    // streams once through the codegen cosine kernel; the rank is the
    // salted two-level bounded top-k.
    // Anchor set is SCALE-FIXED (vec_id < 500 pins 10 anchors at every
    // sf): the corpus side grows with the data while the broadcast anchor
    // side stays constant, so the sf1/sf0.1 ratio gate measures corpus
    // scaling — a %-slice anchor set grows WITH the corpus and turns the
    // measured ratio quadratic by fixture (VERDICT r11 #4), hiding real
    // corpus-side regressions under a 48x ceiling.
    "d56_hard_negatives" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.hardNegatives(corpusSlice(emb), evalSlice(emb), 5)
        .orderBy("anchor_id", "rank")
    }),

    // E18: FILTERED top-k retrieval (the vector-DB reality: every
    // production query carries a metadata predicate). PRE-filter form —
    // the label cut runs before ranking so k survivors always rank;
    // post-filtering an unfiltered top-k under-returns at low
    // selectivity, the classic filtered-ANN bug the gate would catch.
    // Query side pinned to the evalSlice since r14 (VERDICT r13 #1) —
    // production query sets are workload-sized, not corpus-sized, and a
    // %-slice query set made the ratio gate quadratic by fixture.
    "e18_filtered_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.filteredTopK(corpusSlice(emb), evalSlice(emb), 5)
        .orderBy("query_id", "rank")
    }),

    // E19: MMR diversity re-rank (Carbonell & Goldstein 1998) — the
    // standard post-retrieval step of RAG stacks: greedy selection of
    // lambda*rel - (1-lambda)*max-sim-to-selected over a top-20 exact
    // pool, k=5, lambda=0.7. Integer-exact: every cosine quantizes to
    // floor(cos*1e6) BEFORE comparison and the selection value is the
    // integer 7*rel_e6 - 3*maxsim_e6, so the greedy cannot be flipped by
    // a last-ulp double disagreement; the oracle unrolls the 5 greedy
    // steps as chained CTE layers.
    // Query set scale-fixed like d56 (10 queries at every sf): the ratio
    // gate then measures the corpus-side cost — the thing that scales in
    // production, where the query set is workload-sized, not corpus-sized.
    "e19_mmr_rerank" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.mmrRerank(corpusSlice(emb), evalSlice(emb),
          k = 5, pool = 20)
        .orderBy("query_id", "rank")
    }),

    // D57: corpus-wide paragraph dedup (C4's dedupe_lines) — keep ONE
    // occurrence of every unique paragraph across the corpus (first in
    // (doc, position) order), reassemble docs, drop emptied docs. The
    // fixture text carries no newlines, so the gate synthesizes the
    // paragraph structure deterministically (a break before every
    // "merge " token) with the oracle applying the identical rewrite —
    // the operator itself only ever sees a text column with separators.
    // NULL-text class (VERDICT r12 #5 audit): %13==0 docs carry NULL text
    // — split(NULL) explodes to zero paragraphs, so they drop from the
    // output exactly like fully-deduplicated docs; the oracle excludes
    // them, so an operator that emitted ANY row for a NULL doc (or
    // crashed on one) would break the compare.
    "d57_paragraph_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 13 === 0, lit(null))
          .otherwise(regexp_replace(col("text"), " merge ", "\nmerge "))
          .as("text"))
      Dedup.paragraphDedup(docs, "doc_id", "text")
        .orderBy("doc_id")
    }),

    // X8: adversarial-skew stress of D57 (the 100 TB hot-digest shape):
    // EVERY doc carries one shared boilerplate paragraph, so one content
    // digest owns a corpus-sized posting list. The map-side-partial
    // min(struct) agg must keep the hot key to one row per upstream
    // partition (never a window over the postings); the winner is the
    // min-id doc, every other doc silently loses that paragraph. Same
    // oracle machinery as d57 over the skewed corpus.
    "x08_paragraph_dedup_hot" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(regexp_replace(col("text"), " merge ", "\nmerge "),
          lit("\nmerge shared boilerplate notice")).as("text"))
      Dedup.paragraphDedup(docs, "doc_id", "text")
        .orderBy("doc_id")
    }),

    // D58: domain-blocklist filtering (the UT1-style scrub) — hosts are
    // synthesized deterministically from doc_id; the 5-entry blocklist
    // exercises suffix-at-dot-boundary matching (t1.com blocks every
    // *.t1.com), an exact-full-host entry, a never-matching entry, case
    // folding (hosts carry an uppercase label), and the lexicographic
    // matched_domain tie-break (s1.t1.com vs t1.com on b=1,c=1 hosts).
    "d58_blocklist_filter" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("W"), (col("doc_id") % 5).cast("string"),
          lit(".s"), (col("doc_id") % 17).cast("string"),
          lit(".t"), (col("doc_id") % 3).cast("string"),
          lit(".com")).as("host"))
      graft.functions.UrlFunctions
        .blocklistFilter(docs, "doc_id", "host", d58Blocklist(s))
        .select("doc_id", "host", "matched_domain", "blocked")
        .orderBy("doc_id")
    }),

    // D64: WET extraction — the Common Crawl derivation end to end:
    // warc.gz shards (warcinfo + a 200 response whose body is the d61
    // synthetic page in a d59 BOM encoding + a 404 response + a request
    // record on odd ids) stream through the CRC-verified WARC walk; only
    // the 200 response survives the status gate, its bytes decode
    // through the charset ladder and extract through the boilerplate
    // classifier — one fused scan, no shuffle. The oracle states the one
    // output row per shard analytically.
    "d64_wet_extract" -> ((s, dir) => {
      import s.implicits._
      val shards = t(s, dir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          import java.nio.charset.StandardCharsets._
          val html = "<html><head><script>var trap = \"<p>no</p>\";</script>" +
            "<style>p{color:red}</style></head><body>" +
            "<nav><a href=\"/\">Home page</a> <a href=\"/about\">About this site</a></nav>" +
            "<h1>Tiny</h1><p>Paragraph one: " + text.substring(0, math.min(30, text.length)) +
            "</p><div><a href=\"/ad\">sponsored advertisement placement</a></div>" +
            "<p>Paragraph two says " +
            text.substring(math.min(30, text.length),
              math.min(46, text.length)) +
            " &amp; more words here</p></body></html>"
          val raw = (id % 5) match {
            case 0 => Array[Byte](0xef.toByte, 0xbb.toByte, 0xbf.toByte) ++
              html.getBytes(UTF_8)
            case 1 => Array[Byte](0xff.toByte, 0xfe.toByte) ++
              html.getBytes(UTF_16LE)
            case 2 => Array[Byte](0xfe.toByte, 0xff.toByte) ++
              html.getBytes(UTF_16BE)
            case _ => html.getBytes(UTF_8)
          }
          val W = graft.operators.WarcShard
          val recs =
            Seq(W.encodeRecord("warcinfo", None,
              "software: graft\r\n".getBytes("ISO-8859-1")),
              W.encodeRecord("response",
                Some(s"http://h${id % 40}.example/main"),
                W.encodeHttpResponse(200, "OK", raw)),
              W.encodeRecord("response",
                Some(s"http://h${id % 40}.example/gone"),
                W.encodeHttpResponse(404, "NO",
                  "not here".getBytes("ISO-8859-1")))) ++
            (if (id % 2 == 1)
              Seq(W.encodeRecord("request",
                Some(s"http://h${id % 40}.example/main"),
                "GET /main HTTP/1.1\r\n\r\n".getBytes("ISO-8859-1")))
             else Seq.empty)
          (id, W.encodeWarcGz(recs))
        }).toDF("shard_id", "payload")
      graft.operators.CrawlFrontDoor.wetExtract(s, shards)
        .transform(d => sortedOnce(d, "shard_id"))
    }),

    // D63: link extraction (the link-graph feeder: D42's host PageRank
    // and anchor-text retrieval stand on this table) — id-dependent
    // links exercise quoted/single-quoted/unquoted href forms, entity
    // decoding in both href and anchor, a no-href anchor (skipped), a
    // script-embedded ghost link (must not leak) and a conditional third
    // link; the oracle states every row analytically.
    "d63_link_extract" -> ((s, dir) => {
      val pages = t(s, dir, "documents").select(col("doc_id"),
        concat(
          lit("<p>Intro <a href=\"/p"), (col("doc_id") % 7).cast("string"),
          lit("\">page "), (col("doc_id") % 7).cast("string"),
          lit("</a> middle</p><ul><li><a href = 'http://h"),
          (col("doc_id") % 4).cast("string"),
          lit(".com/x?a=1&amp;b=2'>host "), (col("doc_id") % 4).cast("string"),
          lit("</a></li></ul>"),
          when(col("doc_id") % 3 === 0,
            lit("<a href=/extra>extra &amp; link</a>")).otherwise(lit("")),
          lit("<a name=\"x\">no href</a>" +
            "<script>var a = '<a href=\"/ghost\">g</a>';</script>"))
          .as("html"))
      graft.operators.HtmlExtract
        .extractLinks(s, pages, "doc_id", "html").toDF()
        .orderBy("doc_id", "link_idx")
    }),

    // D62: the crawl FRONT DOOR composed end to end — blocklist (d58's
    // hosts+list) -> fused per-row robots gate (d60's bodies/agents/
    // paths) + charset decode (d59's BOM classes over the page bytes) +
    // HTML extraction (d61's synthetic page) -> corpus-wide paragraph
    // dedup (d57's first-wins). ONE oracle restates the whole chain:
    // survivor condition as id arithmetic, kept blocks analytically,
    // dedup as the ROW_NUMBER rule. The composition is an operator
    // (CrawlFrontDoor.pipeline): one scan, one broadcast, two keyed
    // shuffles — the per-row stages fuse into a single projection.
    "d62_frontdoor_pipeline" -> ((s, dir) => {
      import s.implicits._
      val pages = t(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          concat(lit("W"), (col("doc_id") % 5).cast("string"),
            lit(".s"), (col("doc_id") % 17).cast("string"),
            lit(".t"), (col("doc_id") % 3).cast("string"),
            lit(".com")).as("host"),
          concat(lit("User-agent: *\nDisallow: /private/\n" +
              "Allow: /private/ok$\nUser-agent: graftbot\nDisallow: /g"),
            (col("doc_id") % 5).cast("string"), lit("/\n")).as("body"),
          when(col("doc_id") % 3 === 0, lit("graftbot-fetch/1.0"))
            .otherwise(lit("genericbot/2.0")).as("agent"),
          when(col("doc_id") % 4 === 0, lit("/private/ok"))
            .when(col("doc_id") % 4 === 1, lit("/private/deep"))
            .when(col("doc_id") % 4 === 2,
              concat(lit("/g"), (col("doc_id") % 5).cast("string"),
                lit("/page")))
            .otherwise(lit("/open/x")).as("path"),
          concat(
            lit("<html><head><script>var trap = \"<p>no</p>\";</script>" +
              "</head><body>" +
              "<nav><a href=\"/\">Home page</a> <a href=\"/about\">About this site</a></nav>" +
              "<h1>Tiny</h1><p>Paragraph one: "),
            substring(col("text"), 1, 30),
            lit("</p><div><a href=\"/ad\">sponsored advertisement placement</a></div>" +
              "<p>Paragraph two says "),
            substring(col("text"), 31, 16),
            lit(" &amp; more words here</p></body></html>")).as("html"))
        .select(col("doc_id"), col("host"), col("body"), col("agent"),
          col("path"), col("html")).as[(Long, String, String, String, String, String)]
        .mapPartitions(_.map { case (id, host, body, agent, path, html) =>
          import java.nio.charset.StandardCharsets._
          // the d59 BOM classes over the page bytes (ASCII page, so the
          // two non-BOM classes decode identically through utf8/latin1)
          val raw = (id % 5) match {
            case 0 => Array[Byte](0xef.toByte, 0xbb.toByte, 0xbf.toByte) ++
              html.getBytes(UTF_8)
            case 1 => Array[Byte](0xff.toByte, 0xfe.toByte) ++
              html.getBytes(UTF_16LE)
            case 2 => Array[Byte](0xfe.toByte, 0xff.toByte) ++
              html.getBytes(UTF_16BE)
            case _ => html.getBytes(UTF_8)
          }
          (id, host, body, agent, path, raw)
        }).toDF("doc_id", "host", "body", "agent", "path", "raw")
      val blocklist = Seq("t1.com", "s5.t2.com", "w3.s7.t0.com", "x9.net",
        "s1.t1.com").toDF("domain")
      graft.operators.CrawlFrontDoor.pipeline(s, pages, "doc_id", "host",
          "raw", "body", "agent", "path", blocklist)
        .orderBy("doc_id")
    }),

    // D61: HTML main-content extraction (boilerplate removal) — each doc
    // is wrapped into a synthetic page exercising every classifier path:
    // script/style bodies (must not leak), a link-dense nav (>= length
    // threshold but 96% link density -> dropped), a too-short heading, two
    // real prose paragraphs built from the doc text (kept), an
    // all-anchor ad block and a footer (dropped), plus an entity in the
    // kept text. The oracle restates the kept blocks analytically (same
    // whitespace collapse + trim).
    // NULL-html class (VERDICT r12 #5 audit): %13==0 docs carry a NULL
    // html cell (an unfetched body); the extractor contract drops them —
    // the oracle excludes the class, so an emitted row or a NPE would
    // break the compare.
    "d61_html_extract" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 13 === 0, lit(null)).otherwise(concat(
          lit("<html><head><script>var trap = \"<p>no</p>\";</script>" +
            "<style>p{color:red}</style></head><body>" +
            "<nav><a href=\"/\">Home page</a> <a href=\"/about\">About this site</a></nav>" +
            "<h1>Tiny</h1><p>Paragraph one: "),
          substring(col("text"), 1, 30),
          lit("</p><div><a href=\"/ad\">sponsored advertisement placement</a></div>" +
            "<p>Paragraph two says "),
          substring(col("text"), 31, 16),
          lit(" &amp; more words here</p>" +
            "<footer><a href=\"/c\">contact</a> <a href=\"/i\">imprint</a></footer>" +
            "</body></html>"))).as("html"))
      graft.operators.HtmlExtract
        .extractDocs(s, docs, "doc_id", "html").toDF()
        .orderBy("doc_id")
    }),

    // D66: the published Gopher quality-rule composite (Rae et al. 2021)
    // over synthesized per-class violations: stopword padding (passes),
    // a '#' flood (symbol rule), a numeral flood (alpha rule), a 9-char
    // truncation (word-count rule). All ratios floor-scaled integers,
    // so the rule boundaries are bit-identical to the DuckDB restatement.
    "d66_gopher_rules" -> ((s, dir) => {
      val nums = (1 to 20).map(i => (i * 37) % 100).mkString(" ", " ", "")
      val raw = when(col("doc_id") % 4 === 0,
          concat(col("text"), lit(" the of the and")))
        .when(col("doc_id") % 4 === 1,
          concat(col("text"), lit(" # # # # # # # # # #")))
        .when(col("doc_id") % 4 === 2, concat(col("text"), lit(nums)))
        .otherwise(substring(col("text"), 1, 9))
      // tokens bound to a real column first: the six rule fields then
      // read ONE evaluated array instead of re-tokenizing per field
      // (the HOF rule expressions evaluate interpreted, no codegen CSE)
      t(s, dir, "documents")
        .select(col("doc_id"), TF.cleanTokens(raw).as("w"))
        .select(col("doc_id"), TF.gopherQualityOfTokens(col("w")).as("q"))
        .select(col("doc_id"), col("q.n_words"), col("q.mean_wlen_e2"),
          col("q.symbol_e4"), col("q.alpha_e4"), col("q.stop_count"),
          col("q.passed"))
        .orderBy("doc_id")
    }),

    // D67: the LINE-shaped Gopher rules d66's word-shaped composite
    // leaves out — duplicate-line fraction, ellipsis-line fraction,
    // bullet-start fraction — over per-class planted violations: a
    // distinct-lines doc (passes), a repeated-line flood (dup rule), an
    // ellipsis flood ("..." and U+2026 both), a fully-bulleted doc ("•",
    // "-", "*" all three). Floor-scaled integer ratios, one in-row pass.
    "d67_gopher_line_rules" -> ((s, dir) => {
      val l1 = substring(col("text"), 1, 20)
      val l2 = substring(col("text"), 21, 20)
      val l3 = substring(col("text"), 41, 20)
      val raw = when(col("doc_id") % 4 === 0,
          concat_ws("\n", l1, l2, l3, lit("closing line")))
        .when(col("doc_id") % 4 === 1,
          concat_ws("\n", l1, l1, l1, l1, l2))
        .when(col("doc_id") % 4 === 2,
          concat_ws("\n", concat(l1, lit("...")), concat(l2, lit("…")),
            l3))
        .otherwise(
          concat_ws("\n", concat(lit("• "), l1), concat(lit("- "), l2),
            concat(lit("* "), l3)))
      // line array bound first — the d66 one-evaluation discipline
      t(s, dir, "documents")
        .select(col("doc_id"), TF.gopherLines(raw).as("ls"))
        .select(col("doc_id"), TF.gopherLineRulesOfLines(col("ls")).as("q"))
        .select(col("doc_id"), col("q.n_lines"), col("q.dup_line_e4"),
          col("q.ellipsis_e4"), col("q.bullet_e4"), col("q.passed"))
        .orderBy("doc_id")
    }),

    // D68: the REPETITION half of Gopher §A1.1 completed (d12 carries
    // dup-word + top-2-gram): top-3/top-4-gram char mass (max of count x
    // gram chars — well-defined under count ties, unlike
    // argmax-then-measure) and duplicate-5/10-gram char coverage (word
    // chars inside ANY n-gram occurring twice). Codegen kernels (one
    // in-row pass each, no UDF, no shuffle); planted per-class
    // violations: a clean doc, a 5-word phrase x3, a 10-word sentence
    // x2, a single-word flood.
    "d68_gopher_repetition" -> ((s, dir) => {
      val raw = when(col("doc_id") % 4 === 0, col("text"))
        .when(col("doc_id") % 4 === 1, concat(col("text"),
          lit(" alpha beta gamma delta epsilon" * 3)))
        .when(col("doc_id") % 4 === 2, concat(col("text"),
          lit(" one two three four five six seven eight nine ten" * 2)))
        .otherwise(concat(col("text"), lit(" spam" * 6)))
      t(s, dir, "documents").select(col("doc_id"), raw.as("raw"))
        .select(col("doc_id"),
          expr("graft_word_chars(raw)").as("total_chars"),
          expr("graft_top_ngram_chars(raw, 3)").as("top3_chars"),
          expr("graft_top_ngram_chars(raw, 4)").as("top4_chars"),
          expr("graft_dup_ngram_chars(raw, 5)").as("dup5_chars"),
          expr("graft_dup_ngram_chars(raw, 10)").as("dup10_chars"))
        .select(col("doc_id"), col("total_chars"), col("top3_chars"),
          col("top4_chars"), col("dup5_chars"), col("dup10_chars"),
          expr("CASE WHEN total_chars > 0 THEN (top3_chars * 10000) div total_chars ELSE 0 END").as("top3_e4"),
          expr("CASE WHEN total_chars > 0 THEN (dup5_chars * 10000) div total_chars ELSE 0 END").as("dup5_e4"),
          expr("CASE WHEN total_chars > 0 THEN (dup10_chars * 10000) div total_chars ELSE 0 END").as("dup10_e4"))
        .orderBy("doc_id")
    }),

    // D69: the corpus changelog between two releases — v1 = docs with
    // id%5!=0, v2 = docs with id%11!=3 and id%7==0 texts revised; so
    // %5==0 rows are ADDED, %11==3 rows REMOVED, %7==0 rows MODIFIED,
    // the rest unchanged — every class analytically plantable. One
    // id-keyed full-outer join of (id, md5) projections; text never
    // shuffles. NULL-text id classes (VERDICT r12 #5 — the class whose
    // absence hid the r12 presence-marker bug from this gate): %13==0
    // rows carry NULL OLD text, %17==0 rows NULL NEW text, so the oracle
    // pins present-with-NULL-text vs absent (NULL->non-NULL and
    // non-NULL->NULL = modified; NULL->NULL, e.g. id 221, = unchanged;
    // both distinct from added/removed).
    "d69_corpus_diff" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val v1 = docs.where(col("doc_id") % 5 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 13 === 0, lit(null))
            .otherwise(col("text")).as("text"))
      val v2 = docs.where(col("doc_id") % 11 =!= 3)
        .select(col("doc_id"),
          when(col("doc_id") % 17 === 0, lit(null))
            .when(col("doc_id") % 7 === 0, concat(col("text"), lit(" [rev2]")))
            .otherwise(col("text")).as("text"))
      Dedup.corpusDiff(v1, v2, "doc_id", "text").orderBy("doc_id")
    }),

    // D65: Unicode NFC normalization — the canonicalization every
    // dedup/hash key needs before hashing ("é" composed vs decomposed
    // are different bytes to md5/minhash). The planted tail per id class
    // exercises composition (e+combining acute -> é, A+combining ring ->
    // Å), idempotence (precomposed é), and NFC-invariance (the fi
    // ligature must SURVIVE — folding it is NFKC's job, not NFC's).
    // Runs as the codegen'd graft_nfc expression; DuckDB's native
    // nfc_normalize is the oracle — a true cross-engine UAX #15 check.
    "d65_unicode_nfc" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 4 === 0, lit(" é"))
            .when(col("doc_id") % 4 === 1, lit(" Å"))
            .when(col("doc_id") % 4 === 2, lit(" é"))
            .otherwise(lit(" ﬁ"))).as("raw"))
      docs.select(col("doc_id"), expr("graft_nfc(raw)").as("norm_text"))
        .withColumn("n_chars", length(col("norm_text")).cast("long"))
        .orderBy("doc_id")
    }),

    // D60: robots.txt evaluation (RFC 9309) — per doc a synthesized
    // robots body (a `*` group with a Disallow + an anchored Allow, and
    // a `graftbot` group with an id-dependent Disallow), an id-dependent
    // crawler agent and path. Outcomes are analytic: group selection
    // (exact token beats `*`, NO rule inheritance), longest-match
    // precedence, Allow-wins-ties and the `$` anchor all decide at least
    // one id class each, so the oracle pins the whole evaluator.
    "d60_robots_rules" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("User-agent: *\nDisallow: /private/\n" +
            "Allow: /private/ok$\nCrawl-delay: 2\n" +
            "User-agent: graftbot\nDisallow: /g"),
          (col("doc_id") % 5).cast("string"), lit("/\n")).as("body"),
        when(col("doc_id") % 3 === 0, lit("graftbot-fetch/1.0"))
          .otherwise(lit("genericbot/2.0")).as("agent"),
        when(col("doc_id") % 4 === 0, lit("/private/ok"))
          .when(col("doc_id") % 4 === 1, lit("/private/deep"))
          .when(col("doc_id") % 4 === 2,
            concat(lit("/g"), (col("doc_id") % 5).cast("string"), lit("/page")))
          .otherwise(lit("/open/x")).as("path"))
      graft.operators.RobotsTxt
        .evaluateDocs(s, docs, "doc_id", "body", "agent", "path").toDF()
        .orderBy("doc_id")
    }),

    // D59: charset detection + transcoding — each doc's text is RE-ENCODED
    // deterministically by id class (UTF-8 BOM / UTF-16LE BOM / UTF-16BE
    // BOM / plain UTF-8 with a planted non-ASCII char / Latin-1 with the
    // same char, which is INVALID UTF-8 and must fall through the strict
    // validation walk), then sniffed+decoded back; the oracle states the
    // expected label and the byte-exact recovered text analytically, so
    // the whole ladder (BOM strip, RFC 3629 walk, Latin-1 fallback) sits
    // under the hash compare.
    "d59_charset_sniff" -> ((s, dir) => {
      import s.implicits._
      val raw = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          import java.nio.charset.StandardCharsets._
          val bytes = (id % 5) match {
            case 0 =>
              val tb = text.getBytes(UTF_8)
              Array[Byte](0xef.toByte, 0xbb.toByte, 0xbf.toByte) ++ tb
            case 1 =>
              Array[Byte](0xff.toByte, 0xfe.toByte) ++ text.getBytes(UTF_16LE)
            case 2 =>
              Array[Byte](0xfe.toByte, 0xff.toByte) ++ text.getBytes(UTF_16BE)
            case 3 => (text + "é").getBytes(UTF_8)
            case _ => (text + "é").getBytes(ISO_8859_1)
          }
          (id, bytes)
        }).toDF("doc_id", "raw")
      graft.operators.CharsetSniff.decodeDocs(s, raw, "doc_id", "raw").toDF()
        .orderBy("doc_id")
    }),

    // Tumbling-window event aggregation (batch form of the streaming
    // windowed counts; §2.9).
    "ev03_tumbling_window" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          TR.sumExact(col("value"), scale = 6).as("sum_value"))
        .select(col("w.start").cast("long").as("window_epoch"),
          col("event_type"), col("cnt"), col("sum_value"))
        .orderBy("window_epoch", "event_type")),

    // Ordered conversion funnel: first view, first click at-or-after it,
    // first purchase at-or-after that click — per-stage conditional mins
    // chained through user_id-keyed joins (one reusable shuffle key, no
    // window over the whole event stream).
    "ev04_funnel" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select("user_id", "event_type", "ts_us")
      val v = ev.where(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts_us")).as("view_us"))
      val c = ev.where(col("event_type") === "click").join(v, "user_id")
        .where(col("ts_us") >= col("view_us"))
        .groupBy("user_id").agg(min(col("ts_us")).as("click_us"))
      val p = ev.where(col("event_type") === "purchase").join(c, "user_id")
        .where(col("ts_us") >= col("click_us"))
        .groupBy("user_id").agg(min(col("ts_us")).as("purchase_us"))
      ev.select("user_id").distinct()
        .join(v, Seq("user_id"), "left_outer")
        .join(c, Seq("user_id"), "left_outer")
        .join(p, Seq("user_id"), "left_outer")
        .orderBy("user_id")
    }),

    // EV05: backward as-of join — every click attributed to the user's
    // most recent view at-or-before it (point-in-time lookup). The oracle
    // is DuckDB's NATIVE ASOF JOIN, cross-validating our sort-based
    // operator against an independent implementation of the semantics.
    "ev05_asof_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts_us")
      val views = ev.where(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts_us"))
        .agg(max(col("value")).as("view_value")) // unique per (key, time)
      graft.operators.AsOfJoin
        .asofBackward(clicks, views, "user_id", "ts_us", Seq("view_value"))
        .orderBy("event_id")
    }),

    // EV07: tolerance-bounded as-of join (pandas merge_asof semantics):
    // the greatest at-or-before view either falls within the 30-minute
    // lookback or the click keeps nulls — never a further-back substitute.
    "ev07_asof_tolerance" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts_us")
      val views = ev.where(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts_us"))
        .agg(max(col("value")).as("view_value"))
      graft.operators.AsOfJoin
        .asofBackward(clicks, views, "user_id", "ts_us", Seq("view_value"),
          tolerance = Some(1800000000L))
        .orderBy("event_id")
    }),

    // D26: cross-source duplication matrix — verified near-dup pairs
    // rolled up to unordered (source, source) cells: which corpora
    // duplicate each other (the provenance-overlap report run before
    // mixing sources into a training set).
    "d26_source_overlap" -> ((s, dir) => {
      val src = t(s, dir, "documents").select(col("doc_id"), col("source"))
      Dedup.minhashNearDupPairs(t(s, dir, "documents"), "doc_id", "text")
        .select("doc_a", "doc_b")
        .join(src.select(col("doc_id").as("doc_a"), col("source").as("src_a")), "doc_a")
        .join(src.select(col("doc_id").as("doc_b"), col("source").as("src_b")), "doc_b")
        .groupBy(least(col("src_a"), col("src_b")).as("source_x"),
          greatest(col("src_a"), col("src_b")).as("source_y"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("source_x", "source_y")
    }),

    // D27: C4-style boilerplate segment removal — documents segment into
    // non-overlapping 8-token windows; any segment text occurring >= 2
    // times ACROSS the corpus is boilerplate (the C4 "line appears 3+
    // times" rule over a deterministic segmenter, since this corpus has no
    // newlines). Per doc: segment counts and the md5 of the kept text.
    // Scale shape: one explode pass -> groupBy(segment) with map-side
    // partial counts -> join back on the segment key -> per-doc agg; three
    // key shuffles, no pair space, no window over the segment stream.
    "d27_segment_dedup" -> ((s, dir) => {
      val segLen = 8
      val d = t(s, dir, "documents")
        .select(col("doc_id"), TF.cleanTokens(col("text")).as("toks"))
        .withColumn("n", size(col("toks")).cast("long"))
        .where(col("n") > 0)
      val segs = d.select(col("doc_id"),
          explode(sequence(lit(0L), col("n") - 1L, lit(segLen.toLong))).as("tok_start"),
          col("toks"))
        .select(col("doc_id"),
          (col("tok_start") / segLen).cast("long").as("seg_idx"),
          concat_ws(" ",
            slice(col("toks"), col("tok_start").cast("int") + 1, lit(segLen))).as("seg"))
      val counts = segs.groupBy("seg").agg(count(lit(1)).as("n_occ"))
      segs.join(counts, "seg")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_segs"),
          sum(when(col("n_occ") >= 2, 1L).otherwise(0L)).as("n_boiler"),
          array_join(transform(
            array_sort(collect_list(when(col("n_occ") < 2,
              struct(col("seg_idx"), col("seg"))))),
            x => x.getField("seg")), " ").as("kept_text"))
        .select(col("doc_id"), col("n_segs"), col("n_boiler"),
          when(col("n_segs") > col("n_boiler"),
            md5(col("kept_text").cast("binary"))).as("kept_md5"))
        .orderBy("doc_id")
    }),

    // D28: n-gram-overlap decontamination report — the GPT-3-style variant
    // of d14: instead of a binary any-shared-fingerprint drop, score each
    // training document by the FRACTION of its distinct word 3-grams that
    // appear anywhere in the held-out benchmark set, and flag docs above
    // 5%. The benchmark gram set is small by construction -> broadcast;
    // the training side streams once.
    "d28_overlap_decontaminate" -> ((s, dir) => {
      val gramN = 3
      val words = filter(split(col("text"), " "), w => length(w) > 0)
      val grams = t(s, dir, "documents")
        .select(col("doc_id"), words.as("__w"))
        .where(size(col("__w")) >= gramN)
        .select(col("doc_id"), explode(array_distinct(transform(
          sequence(lit(0), size(col("__w")) - gramN), i =>
            concat_ws(" ", slice(col("__w"), i + 1, lit(gramN)))))).as("gram"))
      val bench = grams.where(col("doc_id") % 97 === 0)
        .select("gram").distinct().withColumn("hit", lit(1L))
      grams.where(col("doc_id") % 97 =!= 0)
        .join(broadcast(bench), Seq("gram"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("n_overlap"))
        .select(col("doc_id"), col("n_grams"), col("n_overlap"),
          expr("(n_overlap * 1000000) div n_grams").as("overlap_frac_e6"),
          (expr("(n_overlap * 1000000) div n_grams") <= lit(50000L)).as("keep"))
        .orderBy("doc_id")
    }),

    // K4: temperature-scaled mixture sampling — per-language quotas
    // proportional to count^(1/2) (the standard temperature flattening
    // that up-weights low-resource slices when mixing corpora). Integer-
    // exact: isqrt via floor(sqrt) with a +-1 fp correction, quota =
    // (T * isqrt(c)) div sum(isqrt); the draw is the deterministic
    // hash-rank, computed with the salted two-level BoundedRank (quota <=
    // 100 = T, so ranking to T suffices) — at 100 TB the dominant language
    // holds ~half the corpus and a plain per-language window would sort it
    // in ONE task to keep <= 100 rows. Quota table broadcast.
    "k04_temperature_mixture" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      val wts = d.groupBy("lang").agg(count(lit(1)).as("c"))
        .withColumn("w", TR.isqrt(col("c")))
      val tot = wts.agg(sum(col("w")).as("tot_w"))
      val quotas = wts.crossJoin(tot)
        .select(col("lang"), expr("(100 * w) div tot_w").as("quota"))
      graft.operators.BoundedRank.topKPerKey(d, Seq("lang"),
          Seq(md5(col("doc_id").cast("string")), col("doc_id")), k = 100)
        .join(broadcast(quotas), "lang")
        .where(col("rk") <= col("quota"))
        .select(col("lang"), col("doc_id"), col("rk"))
        .orderBy("lang", "rk")
    }),

    // M1: REAL raster decode round-trip, oracle-gated. Each doc becomes a
    // 16x16 image whose pixel (x,y) carries a known per-channel formula;
    // even ids encode as uncompressed BMP, odd ids as zlib-deflated PNG
    // (RasterCodec — dependency-free). decodeRasterFeatures must recover
    // the analytic per-channel sums EXACTLY through the full byte path:
    // header parse, (for PNG) Inflater + scanline un-filter, BGR/padding/
    // bottom-up handling for BMP. The oracle computes the same sums
    // straight from the formula — any codec bug breaks the hash match.
    "m01_raster_decode" -> ((s, dir) => {
      import s.implicits._
      val W = 16; val H = 16
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val rgb = new Array[Byte](W * H * 3)
          var y = 0
          while (y < H) {
            var x = 0
            while (x < W) {
              val p = (y * W + x) * 3
              rgb(p) = ((id + x) % 256).toByte
              rgb(p + 1) = ((id + y) % 256).toByte
              rgb(p + 2) = ((x * y + id) % 256).toByte
              x += 1
            }
            y += 1
          }
          val payload =
            if (id % 2 == 0) graft.operators.RasterCodec.encodeBmp(W, H, rgb)
            else graft.operators.RasterCodec.encodePng(W, H, rgb)
          (id, payload)
        }).toDF("media_id", "payload")
      graft.operators.Multimodal.decodeRasterFeatures(s, media).toDF()
        .orderBy("media_id")
    }),

    // M1 (TIFF): baseline TIFF decode round-trip, oracle-gated like m01.
    // Each doc becomes a real TIFF — RGB (even ids) or gray (odd), cycling
    // none/LZW/Deflate/PackBits compression, both byte orders, Predictor=2
    // on the LZW and Deflate docs, striped every 5 rows — with formula
    // pixels whose channel sums the oracle states analytically (lossless
    // -> exact).
    "m18_tiff_decode" -> ((s, dir) => {
      import s.implicits._
      val W = 16; val H = 16
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val ch = if (id % 2 == 0) 3 else 1
          val data = new Array[Byte](W * H * ch)
          var y = 0
          while (y < H) {
            var x = 0
            while (x < W) {
              if (ch == 3) {
                val p = (y * W + x) * 3
                data(p) = ((id + x) % 256).toByte
                data(p + 1) = ((id + y) % 256).toByte
                data(p + 2) = ((x * y + id) % 256).toByte
              } else {
                data(y * W + x) = ((id + x * 7 + y * 13) % 256).toByte
              }
              x += 1
            }
            y += 1
          }
          val comp = (id % 4) match {
            case 0 => 1; case 1 => 5; case 2 => 8; case _ => 32773
          }
          val payload = graft.operators.TiffCodec.encode(W, H, ch, data,
            compression = comp, bigEndian = id % 5 < 2, rowsPerStrip = 5,
            predictor = if (comp == 5 || comp == 8) 2 else 1)
          (id, payload)
        }).toDF("media_id", "payload")
      graft.operators.Multimodal.decodeRasterFeatures(s, media).toDF()
        .orderBy("media_id")
    }),

    // M1 (EXIF): camera-metadata extraction from JPEG APP1 — the fields a
    // multimodal pipeline filters/groups on (orientation, timestamp,
    // make/model). Each doc becomes a real EXIF'd JPEG shell with formula
    // values; the marker walk + embedded-TIFF-IFD parse must recover them
    // exactly (oracle analytic).
    "m19_exif_tags" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.flatMap { id =>
          val dt = f"2024:01:${1 + id % 28}%02d 00:00:${id % 60}%02d"
          val payload = graft.operators.TiffCodec.withExif(null,
            orientation = (1 + id % 8).toInt, dateTime = dt,
            make = s"cam${id % 5}", model = s"m${id % 3}")
          graft.operators.TiffCodec.exifTags(payload).map(e =>
            (id, e.orientation, e.dateTime, e.make, e.model))
        }).toDF("media_id", "orientation", "date_time", "make", "model")
        .orderBy("media_id")
    }),

    // M1 (audio): REAL WAV PCM decode round-trip, oracle-gated the same
    // way as m01. Each doc becomes a stereo 16-bit WAV whose sample at
    // (frame k, channel c) carries a known formula; decodeAudioFeatures
    // must recover the analytic per-channel sums EXACTLY through the full
    // byte path (RIFF chunk walk, fmt parse, sign-extension). The oracle
    // computes the same sums straight from the formula — any codec bug
    // breaks the hash match.
    "m02_audio_decode" -> ((s, dir) => {
      import s.implicits._
      val Rate = 8000
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val frames = (100 + id % 50).toInt
          val samples = new Array[Short](frames * 2)
          var k = 0
          while (k < frames) {
            samples(k * 2) = ((id * 7 + k * 3) % 2048 - 1024).toShort
            samples(k * 2 + 1) = ((id + k * 5) % 4096 - 2048).toShort
            k += 1
          }
          (id, graft.operators.AudioCodec.encodeWavPcm16(Rate, 2, samples))
        }).toDF("media_id", "payload")
      graft.operators.Multimodal.decodeAudioFeatures(s, media).toDF()
        .orderBy("media_id")
    }),

    // M1 (video): ISO-BMFF sample-table walk, oracle-gated. Each doc
    // becomes an mp4 (ftyp; mdat; moov) whose stts/stsz/stsc/stco/stss
    // tables follow doc_id formulas: two stts runs (d1 then d2), sizes
    // 100+(id+k*17)%900, chunks of 4 samples laid out contiguously from
    // byte 24 (mdat-first layout), stss marking every 5th sample. The
    // walk must reconstruct per-sample dts/size/offset/sync EXACTLY —
    // the oracle rebuilds dts from the run formula and offsets as a
    // running sum over sizes. This is the frame-sampling plumbing: filter
    // is_sync, window dts_ms, ranged-read at file_offset.
    "m08_video_sample_walk" -> ((s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val n = (20 + id % 30).toInt
          val h = n / 2
          val d1 = (100 + id % 7).toInt
          val d2 = (200 + id % 11).toInt
          val sizes = (0 until n).map(k => (100 + (id + k * 17) % 900).toInt)
          val fx = graft.operators.Mp4Tables.TrackFixture(
            trackId = 1, timescale = 600,
            sttsRuns = Seq((h, d1), (n - h, d2)), sizes = sizes,
            samplesPerChunk = 4, syncSamples = Some(1 to n by 5))
          (id, graft.operators.Mp4Tables.encodeMp4WithSamples(Seq(fx)))
        }).toDF("media_id", "payload")
      graft.operators.Multimodal.explodeVideoSamples(s, media).toDF()
        .orderBy("media_id", "sample_idx")
    }),

    // M1 (video FRAME decode): REAL motion-JPEG sample decode, oracle-
    // gated. Each doc becomes an mp4 whose "jpeg"-fourcc track carries
    // 4+id%5 REAL photo-JPEG samples in the mdat (16x16 flat DC-only
    // frames at gray (id*7+j*13)%256, 25 fps). The decoder must walk the
    // sample table, slice each sample's byte range, and run the full
    // JPEG path — flat DC-only frames decode analytically exactly, so
    // the oracle states per-frame sum_gray = 256*g in SQL. This is the
    // step beyond m08's layout walk: pixels out of a video container.
    "m11_video_frame_decode" -> ((s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val n = (4 + id % 5).toInt
          val frames = (0 until n).map { j =>
            val g = ((id * 7 + j * 13) % 256).toInt
            graft.operators.JpegCodec.encodeJpegGrayBlocks(2, 2, (_, _) => g)
          }
          val fx = graft.operators.Mp4Tables.payloadTrack(
            trackId = 1, timescale = 1000, delta = 40,
            samplesPerChunk = 3, fourcc = "jpeg", payloads = frames)
          (id, graft.operators.Mp4Tables.encodeMp4WithSamples(Seq(fx)))
        }).toDF("media_id", "payload")
      graft.operators.Multimodal.decodeVideoFrames(s, media).toDF()
        .orderBy("media_id", "sample_idx")
    }),

    // M1 (arithmetic JPEG): REAL SOF9 QM-coder decode, oracle-gated.
    // The SAME flat-mosaic formula as m03, entropy-coded with the T.81
    // Annex D arithmetic coder instead of Huffman — DC-only blocks still
    // decode analytically exactly, so the oracle is m03's formula. Even
    // docs get grayscale, odd docs 4:4:4 color (both 1x1-sampled). Any
    // Qe-table, conditioning-context, renormalization, or byte-feed bug
    // breaks the hash match.
    "m10_jpeg_arith_decode" -> ((s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val gray = (bx: Int, by: Int) => ((id + bx * 3 + by * 5) % 256).toInt
          // id%4 picks the encoding: grayscale SOF9, 4:4:4 SOF9, 4:2:0
          // SOF9 (Y at 2x2 blocks per MCU, NEUTRAL chroma so RGB still
          // equals the gray formula), or progressive SOF10 (standard
          // multi-scan successive-approximation script) — ONE analytic
          // oracle covers all four: MCU interleave, chroma upsample, and
          // the Annex G progressive models included
          val payload = (id % 4) match {
            case 0 => graft.operators.ArithJpeg.encodeArithGrayBlocks(2, 2, gray, 1)
            case 1 => graft.operators.ArithJpeg.encodeArithGrayBlocks(2, 2, gray, 3)
            case 2 => graft.operators.ArithJpeg.encodeArith420(1, 1, gray,
              (_, _) => 128, (_, _) => 128)
            case _ => graft.operators.ArithJpeg.encodeArithProgressive(2, 2, 3,
              (bx, by, ci) => {
                val c = new Array[Int](64)
                if (ci == 0) c(0) = (gray(bx, by) - 128) * 8
                c
              }, graft.operators.ArithJpeg.standardScript(3))
          }
          (id, payload)
        }).toDF("media_id", "payload")
      graft.operators.Multimodal.decodeRasterFeatures(s, media).toDF()
        .orderBy("media_id")
    }),

    // M1 (lossless JPEG): REAL SOF3 predictive decode, oracle-gated.
    // Each doc becomes a 24x16 12-bit lossless grayscale whose sample at
    // (x, y) is (id*13 + x*31 + y*57) % 4096, encoded with predictor
    // 1 + id%7 — all seven T.81 Annex H predictors exercised across the
    // corpus. Lossless decode must return the formula EXACTLY, so the
    // oracle recomputes the sample sum in SQL; any predictor, EXTEND,
    // category or bit-walk bug breaks the hash match.
    "m09_jpeg_lossless_decode" -> ((s, dir) => {
      import s.implicits._
      val W = 24; val H = 16
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val samples = Array.tabulate(W * H) { i =>
            val x = i % W; val y = i / W
            ((id * 13 + x * 31 + y * 57) % 4096).toInt
          }
          (id, graft.operators.LosslessJpeg.encode(W, H, 1, 12,
            (1 + id % 7).toInt, samples))
        }).toDF("media_id", "payload")
      graft.operators.Multimodal.decodeLosslessFeatures(s, media).toDF()
        .orderBy("media_id")
    }),

    // M1 (12-bit JPEG): REAL SOF1 extended-sequential decode at sample
    // precision 12, oracle-gated. Each doc becomes a 16x16 mosaic of flat
    // 12-bit blocks at gray (id*29+bx*5+by*11)%4096 — DC-only, so decode
    // is analytically exact at the full 12-bit range (DC categories up to
    // 15, beyond what 8-bit baseline can express). Even docs grayscale;
    // odd docs 3-component with neutral (2048) chroma AND a 16-bit (Pq=1)
    // quant table — both DQT element widths gated.
    "m12_jpeg12_decode" -> ((s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val g = (bx: Int, by: Int) => ((id * 29 + bx * 5 + by * 11) % 4096).toInt
          val payload =
            if (id % 2 == 0) graft.operators.Jpeg12.encode12GrayBlocks(2, 2, g)
            else graft.operators.Jpeg12.encode12GrayBlocks(2, 2, g,
              components = 3, pq16 = true)
          (id, payload)
        }).toDF("media_id", "payload")
      graft.operators.Multimodal.decodeJpeg12Features(s, media).toDF()
        .orderBy("media_id")
    }),

    // M1 (JPEG): REAL JPEG decode, oracle-gated like m01/m02. Each doc
    // becomes a 16x16 JFIF of flat 8x8 blocks whose gray level follows a
    // formula (DC-only coefficients are the one JPEG family with
    // analytically exact decoded pixels — a DC of 8k IDCTs to a flat
    // k+128). Odd doc_ids get the SAME mosaic entropy-coded as
    // progressive SOF2 (multi-scan successive approximation + EOB runs),
    // so both decode paths are driver-gated against one oracle formula.
    "m03_jpeg_decode" -> ((s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val gray = (bx: Int, by: Int) => ((id + bx * 3 + by * 5) % 256).toInt
          val payload =
            if (id % 2 == 0) graft.operators.JpegCodec.encodeJpegGrayBlocks(2, 2, gray)
            else graft.operators.JpegCodec.encodeJpegGrayBlocksProgressive(2, 2, gray)
          (id, payload)
        }).toDF("media_id", "payload")
      graft.operators.Multimodal.decodeRasterFeatures(s, media).toDF()
        .orderBy("media_id")
    }),

    // M1 (GIF): REAL LZW decode, oracle-gated like m01/m03. Each doc
    // becomes a 16x16 GIF over a formula palette with formula indices —
    // GIF is lossless, so the full parse + LZW + palette path must
    // reproduce the per-channel sums the oracle computes analytically.
    "m04_gif_decode" -> ((s, dir) => {
      import s.implicits._
      val palette = Array.tabulate(768) { i =>
        val k = i / 3
        (i % 3 match {
          case 0 => k
          case 1 => (2 * k) % 256
          case 2 => (k * 3 + 7) % 256
        }).toByte
      }
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val idx = Array.tabulate(256)(i => ((id + i * 31) % 256).toByte)
          (id, graft.operators.GifCodec.encodeGif(16, 16, palette, idx))
        }).toDF("media_id", "payload")
      graft.operators.Multimodal.decodeRasterFeatures(s, media).toDF()
        .orderBy("media_id")
    }),

    // M1 (video): the mp4 metadata walk, oracle-gated. Each doc becomes a
    // metadata-only ISO-BMFF container with formula dims/duration; the
    // sniff must recover them through the real box walk (ftyp, moov/mvhd
    // timescale+duration, trak/tkhd 16.16 extents). The oracle states the
    // formula directly.
    "m05_video_sniff" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.flatMap { id =>
          val payload = graft.operators.Multimodal.encodeMp4Header(
            (160 + id % 100).toInt, (90 + id % 50).toInt,
            600, (600 + id % 1200).toInt)
          graft.operators.Multimodal.sniffVideoHeader(payload).map {
            case (fmt, w, h, ms) => (id, fmt, w, h, ms)
          }
        }).toDF("media_id", "fmt", "width", "height", "duration_ms")
        .orderBy("media_id")
    }),

    // M1 (audio, VBR): the MP3 frame walk, oracle-gated. Each doc becomes
    // a true VBR stream — n = 5 + doc_id % 20 frames whose bitrate index
    // cycles 1 + (doc_id + i) % 14, so per-frame lengths vary and a
    // first-frame-bitrate estimate is analytically wrong — while the
    // walked duration is exact: floor(n * 1152 * 1000 / 44100). The
    // oracle states that formula directly.
    "m06_audio_sniff_vbr" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.flatMap { id =>
          val n = (5 + id % 20).toInt
          val idxs = (0 until n).map(i => (1 + (id + i) % 14).toInt)
          val payload = graft.operators.Multimodal.encodeMp3Frames(idxs)
          graft.operators.Multimodal.sniffAudioHeader(payload).map {
            case (fmt, ch, sr, ms) => (id, fmt, ch, sr, ms)
          }
        }).toDF("media_id", "fmt", "channels", "sample_rate", "duration_ms")
        .orderBy("media_id")
    }),

    // M1 (compressed audio): REAL G.711 μ-law/A-law and IMA ADPCM decode
    // through the full WAV container path — the formats whose expansion
    // is closed-form enough for an analytic oracle. doc_id%3 picks the
    // codec: 0 = μ-law (constant companded byte k=doc_id%256 — the G.711
    // expansion ((m*8+132)<<e − 132 with sign) is computable in SQL),
    // 1 = A-law (same idea via xor(k,85)), 2 = IMA ADPCM with all-zero
    // nibbles at step index 0 (step 7, diff 7>>3 = 0), so every sample
    // equals the block-header predictor. decodeAudioFeatures must recover
    // the analytic per-channel sums EXACTLY — any table, sign, container
    // or block-walk bug breaks the hash match.
    "m07_audio_g711_adpcm" -> ((s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val payload = (id % 3) match {
            case 0 =>
              val n = (400 + id % 100).toInt
              graft.operators.AudioCodec.encodeWavG711(8000, 1, mulaw = true,
                Array.fill(n)((id % 256).toByte))
            case 1 =>
              val n = (400 + id % 100).toInt
              graft.operators.AudioCodec.encodeWavG711(8000, 1, mulaw = false,
                Array.fill(n)((id % 256).toByte))
            case _ =>
              val pred = (id * 97 % 4096 - 2048).toInt
              val block = new Array[Byte](256)
              block(0) = pred.toByte; block(1) = (pred >> 8).toByte
              graft.operators.AudioCodec.encodeWavImaAdpcm(8000, 1, 256, Seq(block))
          }
          (id, payload)
        }).toDF("media_id", "payload")
      graft.operators.Multimodal.decodeAudioFeatures(s, media).toDF()
        .orderBy("media_id")
    }),

    // M1 (FLAC): REAL compressed-audio sample decode, oracle-gated. FLAC
    // is lossless, so a formula waveform must decode to the formula's
    // analytic sums EXACTLY — no tolerance. The corpus rotates the codec
    // surface by id%4: CONSTANT subframes (flat per block), FIXED
    // order-2 prediction, mid/side stereo, and LPC with partitioned Rice
    // residuals. Any bit-reader, Rice, predictor, decorrelation, or CRC
    // bug breaks the hash match. Decode runs distributed through the
    // same decodeAudioFeatures path as WAV (codec-agnostic dispatch).
    "m13_flac_decode" -> ((s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          import graft.operators.FlacCodec
          val n = (192 * (2 + id % 3)).toInt
          val payload = (id % 4) match {
            case 0 =>
              val pcm = Array.tabulate(n)(i =>
                ((id + (i / 192) * 97) % 4096).toInt - 2048)
              FlacCodec.encode(16000, 16, 1, pcm)
            case 1 =>
              val pcm = Array.tabulate(n)(i =>
                ((id * 31 + i * 7) % 4096).toInt - 2048)
              FlacCodec.encode(16000, 16, 1, pcm,
                plan = FlacCodec.PlanFixed(2))
            case 2 =>
              val pcm = new Array[Int](n * 2)
              for (i <- 0 until n) {
                pcm(2 * i) = ((id * 13 + i * 11) % 4096).toInt - 2048
                pcm(2 * i + 1) = ((id * 17 + i * 5) % 4096).toInt - 2048
              }
              FlacCodec.encode(16000, 16, 2, pcm, midSide = true)
            case _ =>
              val pcm = Array.tabulate(n)(i =>
                ((id * 23 + i * 3) % 4096).toInt - 2048)
              FlacCodec.encode(16000, 16, 1, pcm,
                plan = FlacCodec.PlanLpc(Array(3, -1), 1, 4),
                partitionOrder = 1)
          }
          (id, payload)
        }).toDF("media_id", "payload")
      graft.operators.Multimodal.decodeAudioFeatures(s, media).toDF()
        .orderBy("media_id")
    }),

    // M1 (Ogg): REAL container walk for the Opus/Vorbis half of the
    // speech-corpus world, oracle-gated. Each doc becomes a structurally
    // real Ogg stream (BOS identification packet, lacing, per-page
    // CRC-32) with formula channels/rate/terminal-granule; the sniff
    // must recover them through the page walk and each codec's granule
    // mapping ((g - preskip)/48k for Opus, g/rate for Vorbis).
    "m14_ogg_sniff" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.flatMap { id =>
          val ch = (1 + (id % 4) / 2).toInt
          val payload =
            if (id % 2 == 0)
              graft.operators.OggSniff.encodeOggOpus(ch, 312, 48000,
                960L * (50 + id % 100))
            else
              graft.operators.OggSniff.encodeOggVorbis(ch,
                if (id % 4 == 1) 44100 else 22050,
                1024L * (40 + id % 80))
          graft.operators.OggSniff.sniffOgg(payload).map(a =>
            (id, a.format, a.channels, a.sampleRate, a.durationMs))
        }).toDF("media_id", "fmt", "channels", "sample_rate", "duration_ms")
        .orderBy("media_id")
    }),

    // M1 (tar shards): WebDataset-style shard walk, oracle-gated. Each
    // doc becomes a real ustar archive of 2+id%3 samples x two members
    // (sN.txt / sN.json) with formula sizes and formula content bytes;
    // odd docs ship the shard gzipped (the decode path proves the
    // transparent gunzip). The walk must verify every header checksum,
    // honor 512-byte padding, split WebDataset sample keys, and sum the
    // member bytes — all stated analytically by the oracle.
    "m15_tar_shards" -> ((s, dir) => {
      import s.implicits._
      val shards = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val k = (2 + id % 3).toInt
          val members = (0 until k).flatMap { j =>
            val content = (sz: Int) => Array.tabulate(sz)(i =>
              ((id * 3 + j * 5 + i) % 256).toByte)
            Seq(
              (s"s$j.txt", content((10 + (id + j * 7) % 90).toInt)),
              (s"s$j.json", content((5 + (id + j * 11) % 20).toInt)))
          }
          val tar = graft.operators.TarShard.encodeTar(members)
          (id, if (id % 2 == 1) graft.operators.TarShard.gzip(tar) else tar)
        }).toDF("shard_id", "payload")
      sortedOnce(graft.operators.TarShard.explodeMembers(s, shards).toDF(),
        "shard_id", "member_name")
    }),

    // M1 (WebDataset samples): the CONSUMER contract of the tar-shard
    // format — members sharing a basename key assemble into one training
    // sample with per-extension columns and a completeness flag. Same
    // fixture as m15 except sample s0 of id%5==0 shards MISSES its json
    // member, so incomplete samples are exercised, not just asserted.
    "m23_webdataset_samples" -> ((s, dir) => {
      import s.implicits._
      val shards = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val k = (2 + id % 3).toInt
          val members = (0 until k).flatMap { j =>
            val content = (sz: Int) => Array.tabulate(sz)(i =>
              ((id * 3 + j * 5 + i) % 256).toByte)
            Seq((s"s$j.txt", content((10 + (id + j * 7) % 90).toInt))) ++
              (if (j == 0 && id % 5 == 0) Seq.empty
               else Seq((s"s$j.json", content((5 + (id + j * 11) % 20).toInt))))
          }
          val tar = graft.operators.TarShard.encodeTar(members)
          (id, if (id % 2 == 1) graft.operators.TarShard.gzip(tar) else tar)
        }).toDF("shard_id", "payload")
      sortedOnce(graft.operators.TarShard.samples(s, shards, Seq("txt", "json")),
        "shard_id", "sample_key")
    }),

    // M1 write side: DISTRIBUTED WebDataset shard publishing (m28) — the
    // m24/m27 stance for the tar container, completing the publish story
    // for every container family that has one: each doc contributes a
    // 2-member sample (dN.txt + dN.cls) hashed into 7 shards, members
    // stream through the ustar writer in name order into ONE gzipped
    // archive per shard, and the gate reads the payloads back through the
    // checksum-verifying reader's SAMPLE assembly — headers, checksums,
    // 512-byte padding, the terminator, the gzip wrap, within-shard
    // order, and the sample pairing all sit under one analytic oracle.
    "m28_webdataset_shard_write" -> ((s, dir) => {
      import s.implicits._
      val rows = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.flatMap { id =>
          val tsz = (10 + id % 90).toInt
          val csz = (5 + id % 20).toInt
          Seq(
            (id % 7, s"d$id.txt",
              Array.tabulate(tsz)(i => ((id * 3 + i) % 256).toByte)),
            (id % 7, s"d$id.cls",
              Array.tabulate(csz)(i => ((id * 7 + i) % 256).toByte)))
        }).toDF("shard", "name", "bytes")
      val shards = graft.operators.TarShard.writeShards(
        s, rows, "shard", "name", "bytes", Seq("name"), gzip = true)
      graft.operators.TarShard.samples(s, shards, Seq("txt", "cls"))
        .orderBy("shard_id", "sample_key")
    }),

    // M1 (zip shards): the ZIP analogue of m15, oracle-gated. Each doc
    // becomes a real classic ZIP (local headers + central directory +
    // EOCD, real CRC-32s) whose sN.txt members are DEFLATE-compressed
    // and sN.bin members STORED — decode must walk the central
    // directory, inflate, and pass the per-member CRC check before a
    // row may exist. Byte sums stated analytically by the oracle.
    "m16_zip_shards" -> ((s, dir) => {
      import s.implicits._
      val shards = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val k = (2 + id % 3).toInt
          val members = (0 until k).flatMap { j =>
            val content = (sz: Int) => Array.tabulate(sz)(i =>
              ((id * 3 + j * 5 + i) % 256).toByte)
            Seq(
              (s"s$j.txt", content((10 + (id + j * 7) % 90).toInt), true),
              (s"s$j.bin", content((5 + (id + j * 11) % 20).toInt), false))
          }
          (id, graft.operators.ZipShard.encodeZip(members))
        }).toDF("shard_id", "payload")
      sortedOnce(graft.operators.ZipShard.explodeMembers(s, shards).toDF(),
        "shard_id", "member_name")
    }),

    // M1 (WARC): Common Crawl's container format, oracle-gated. Each doc
    // becomes a real record-per-gzip-member warc.gz (warcinfo + 1+id%3
    // HTTP responses + a request record on odd docs); the walk must
    // verify every member's CRC-32/ISIZE, frame records by
    // Content-Length + CRLF separators, and split HTTP preludes from
    // response payloads — lengths, statuses and body byte-sums all
    // stated analytically by the oracle.
    "m17_warc_records" -> ((s, dir) => {
      import s.implicits._
      val shards = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val k = (1 + id % 3).toInt
          val recs =
            Seq(graft.operators.WarcShard.encodeRecord("warcinfo", None,
              "software: graft\r\n".getBytes("ISO-8859-1"))) ++
            (1 to k).map { j =>
              val n = (20 + (id + 7 * j) % 50).toInt
              val body = Array.tabulate(n)(i =>
                ((id * 3 + j * 5 + i) % 64 + 32).toByte)
              val (st, rs) = if (j % 2 == 1) (200, "OK") else (404, "NO")
              graft.operators.WarcShard.encodeRecord("response",
                Some(s"http://h${id % 40}.example/p$j"),
                graft.operators.WarcShard.encodeHttpResponse(st, rs, body))
            } ++
            (if (id % 2 == 1)
              Seq(graft.operators.WarcShard.encodeRecord("request",
                Some(s"http://h${id % 40}.example/p0"),
                "GET /x HTTP/1.1\r\n\r\n".getBytes("ISO-8859-1")))
            else Seq.empty)
          (id, graft.operators.WarcShard.encodeWarcGz(recs))
        }).toDF("shard_id", "payload")
      sortedOnce(graft.operators.WarcShard.explodeRecords(s, shards).toDF(),
        "shard_id", "rec_idx")
    }),

    // M1 (raster resize): decode -> k x k box-average downsample -> sums
    // of the RESIZED pixels, the resize step an image-training pipeline
    // runs before feature extraction. Same 16x16 formula fixture as m01
    // (BMP even / PNG odd ids), k=2 -> 8x8; the integer area filter keeps
    // the whole decode->resize path analytically stated by the oracle.
    "m22_raster_resize" -> ((s, dir) => {
      import s.implicits._
      val W = 16; val H = 16
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val rgb = new Array[Byte](W * H * 3)
          var y = 0
          while (y < H) {
            var x = 0
            while (x < W) {
              val p = (y * W + x) * 3
              rgb(p) = ((id + x) % 256).toByte
              rgb(p + 1) = ((id + y) % 256).toByte
              rgb(p + 2) = ((x * y + id) % 256).toByte
              x += 1
            }
            y += 1
          }
          val payload =
            if (id % 2 == 0) graft.operators.RasterCodec.encodeBmp(W, H, rgb)
            else graft.operators.RasterCodec.encodePng(W, H, rgb)
          (id, payload)
        }).toDF("media_id", "payload")
      graft.operators.Multimodal.resizeRasterFeatures(s, media, k = 2).toDF()
        .orderBy("media_id")
    }),

    // M1 (Arrow shards): the Hugging Face datasets container, oracle-
    // gated. Each doc becomes a real multi-batch Arrow IPC file of
    // (rec_id, label, value) rows; the partition-parallel explode (strict
    // allocator discipline, schema contract by name/type) must recover
    // every row and batch boundary exactly — the oracle states them
    // analytically.
    "m20_arrow_shards" -> ((s, dir) => {
      import s.implicits._
      val shards = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val k = (2 + id % 3).toInt
          val rows = (0 until k).map { r =>
            (id * 10 + r, s"l${(id + r) % 4}", (id % 97).toDouble + r * 0.25)
          }
          (id, graft.operators.ArrowShard.encodeShard(rows, batchRows = 2))
        }).toDF("shard_id", "payload")
      sortedOnce(graft.operators.ArrowShard.explodeRows(s, shards).toDF(),
        "shard_id", "row_idx")
    }),

    // M1 (Arrow schema breadth): schema-DRIVEN shard materialization —
    // published HF shards ship ARBITRARY schemas (typed ints, float4,
    // bool, lists, dictionary-encoded strings), not one fixed layout.
    // Each doc becomes a typed one-batch shard (rid int32, name utf8 —
    // DICTIONARY-encoded on odd ids, score float4, flags bool, tags
    // list<int64>); the reader materializes under the caller's Spark
    // contract (int32->long and float4->double widening, dictionary
    // decode — all analytically stated by the oracle). The tags array
    // projects to (count, sum) so the compare stays scalar.
    "m21_arrow_schema" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types._
      val contract = StructType(Seq(
        StructField("rid", LongType), StructField("name", StringType),
        StructField("score", DoubleType), StructField("flags", BooleanType),
        StructField("tags", ArrayType(LongType))))
      val shards = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val k = (2 + id % 3).toInt
          val rows = (0 until k).map { r =>
            (((id % 100000000L) * 10 + r).toInt, s"n${(id + r) % 5}",
              ((id % 7) + r * 0.5).toFloat, (id + r) % 2 == 0,
              Seq(id, id + r, r.toLong))
          }
          (id, graft.operators.ArrowShard.encodeTypedShard(rows,
            dictEncodeName = id % 2 == 1))
        }).toDF("shard_id", "payload")
      graft.operators.ArrowShard.explodeRowsAs(s, shards, contract)
        .select(col("shard_id"), col("row_idx"), col("rid"), col("name"),
          col("score"), col("flags").cast("long").as("flag"),
          size(col("tags")).cast("long").as("n_tags"),
          aggregate(col("tags"), lit(0L), (a, x) => a + x).as("tags_sum"))
        .transform(d => sortedOnce(d, "shard_id", "row_idx"))
    }),

    // M13 write side (VERDICT r9 ask #6): DISTRIBUTED Arrow shard
    // publishing — docs hash into shards (doc_id % 7), each shard's rows
    // stream into one real Arrow IPC file (record batches of 16, so
    // every shard is multi-batch here), and the gate reads the payloads
    // back through the schema-driven reader: the whole writer — schema
    // mapping, batch chunking, within-shard order, list columns, the
    // footer/magic layout — sits under the analytic oracle. row_idx is
    // the within-shard doc rank, which the oracle restates as a window.
    "m24_arrow_shard_write" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val rows = t(s, dir, "documents").select(
        (col("doc_id") % 7).as("shard"),
        col("doc_id"), col("lang"),
        ((col("doc_id") % 13).cast("double") + 0.5).as("score"),
        (col("doc_id") % 2 === 0).as("flags"),
        array(col("doc_id"), col("doc_id") % 5).as("tags"))
      val shards = graft.operators.ArrowShard.writeShards(
        s, rows, "shard", Seq("doc_id"), batchRows = 16)
      val contract = StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("score", DoubleType), StructField("flags", BooleanType),
        StructField("tags", ArrayType(LongType))))
      graft.operators.ArrowShard.explodeRowsAs(s, shards, contract)
        .select(col("shard_id"), col("row_idx"), col("doc_id"), col("lang"),
          col("score"), col("flags").cast("long").as("flag"),
          size(col("tags")).cast("long").as("n_tags"),
          aggregate(col("tags"), lit(0L), (a, x) => a + x).as("tags_sum"))
        .orderBy("shard_id", "row_idx")
    }),

    // M14: JSONL shard reading — the fifth (and most common) ML corpus
    // container: *.jsonl.gz / *.jsonl.zst shard directories (Pile, C4,
    // RedPajama, Dolma). Even ids gzip their shard, odd ids zstd it (both
    // codecs exercised under one oracle); ids %5==0 append one MALFORMED
    // line, which must surface as a null-fielded row at its exact index
    // (from_json semantics — visible, never fatal). Streaming decode,
    // line/byte bomb guards, no-throw contract in JsonlShard.
    "m25_jsonl_shards" -> ((s, dir) => {
      import s.implicits._
      val shards = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val k = (2 + id % 3).toInt
          val lines = (0 until k).map { r =>
            s"""{"rec":${id * 10 + r},"label":"l${(id + r) % 4}","value":${(id % 97).toDouble + r * 0.25}}"""
          } ++ (if (id % 5 == 0) Seq("{oops") else Seq.empty)
          (id, if (id % 2 == 0) graft.operators.JsonlShard.encodeGz(lines)
               else graft.operators.JsonlShard.encodeZst(lines))
        }).toDF("shard_id", "payload")
      graft.operators.JsonlShard.explodeLines(s, shards).toDF()
        .select(col("shard_id"), col("line_idx"),
          from_json(col("line"), org.apache.spark.sql.types.StructType
            .fromDDL("rec LONG, label STRING, value DOUBLE")).as("j"))
        .select(col("shard_id"), col("line_idx"),
          col("j.rec").as("rec"), col("j.label").as("label"),
          col("j.value").as("value"))
        .transform(d => sortedOnce(d, "shard_id", "line_idx"))
    }),

    // M15: TFRecord shard reading — the sixth ML corpus container (the
    // TensorFlow/TPU-era format: C4's original release, T5 pipelines,
    // TFDS exports). Even ids gzip their shard whole-file (TFRecordOptions
    // GZIP), odd ids ship plain; ids %5==0 get record 1's DATA bytes
    // corrupted (payload CRC fails -> the record is skipped but keeps its
    // index slot — the gap is visible); ids %7==0 get 12 garbage bytes
    // appended (the next length CRC fails -> the walk stops with every
    // real record already out). Masked-CRC32C framing per TF's public
    // record_writer layout, both CRC grades exercised under one oracle.
    "m26_tfrecord_shards" -> ((s, dir) => {
      import s.implicits._
      val shards = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val k = (2 + id % 3).toInt
          val recs = (0 until k).map { r =>
            val sz = (10 + (id + r * 7) % 90).toInt
            Array.tabulate(sz)(i => ((id * 3 + r * 5 + i) % 256).toByte)
          }
          var framed = graft.operators.TfRecordShard.encodeShard(recs)
          if (id % 5 == 0)
            framed = graft.operators.TfRecordShard.corruptRecordData(framed, 1)
          if (id % 7 == 0) framed = framed ++ Array.fill(12)(0xaa.toByte)
          val payload =
            if (id % 2 == 0) {
              val bos = new java.io.ByteArrayOutputStream()
              val gz = new java.util.zip.GZIPOutputStream(bos)
              gz.write(framed); gz.close(); bos.toByteArray
            } else framed
          (id, payload)
        }).toDF("shard_id", "payload")
      graft.operators.TfRecordShard.explodeRecords(s, shards)
        .map(r => (r.shard_id, r.rec_idx, r.record.length.toLong,
          r.record.foldLeft(0L)((a, b) => a + (b & 0xff))))
        .toDF("shard_id", "rec_idx", "size_bytes", "byte_sum")
        .orderBy("shard_id", "rec_idx")
    }),

    // M15 write side: DISTRIBUTED TFRecord shard publishing (the m24
    // stance for the sixth container) — docs hash into 7 shards, each
    // shard's records stream through the framing encoder in doc_id order
    // into ONE gzipped TFRecord payload, and the gate reads the payloads
    // back through the CRC-verifying reader: framing, masked CRCs, the
    // gzip wrap, within-shard order all sit under the analytic oracle.
    "m27_tfrecord_shard_write" -> ((s, dir) => {
      import s.implicits._
      val rows = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val sz = (10 + id % 90).toInt
          (id % 7, id, Array.tabulate(sz)(i => ((id * 3 + i) % 256).toByte))
        }).toDF("shard", "doc_id", "rec")
      val shards = graft.operators.TfRecordShard.writeShards(
        s, rows, "shard", "rec", Seq("doc_id"), gzip = true)
      graft.operators.TfRecordShard.explodeRecords(s, shards)
        .map(r => (r.shard_id, r.rec_idx, r.record.length.toLong,
          r.record.foldLeft(0L)((a, b) => a + (b & 0xff))))
        .toDF("shard_id", "rec_idx", "size_bytes", "byte_sum")
        .orderBy("shard_id", "rec_idx")
    }),

    // M14 write side: DISTRIBUTED JSONL shard publishing (m29) — the
    // m24/m27/m28 stance for the MOST COMMON publish format. JSON
    // serialization stays in the SQL layer (to_json builds each line);
    // shards < 4 publish gzip, >= 4 zstd, so BOTH codecs' write paths sit
    // under one oracle; the gate reads the payloads back through the
    // streaming-decompress line walk + from_json.
    "m29_jsonl_shard_write" -> ((s, dir) => {
      import s.implicits._
      val rows = t(s, dir, "documents")
        .select((col("doc_id") % 7).as("shard"), col("doc_id"),
          to_json(struct(col("doc_id").as("rec"), col("lang").as("label")))
            .as("line"))
      val gz = graft.operators.JsonlShard.writeShards(
        s, rows.where(col("shard") < 4), "shard", "line", Seq("doc_id"), "gzip")
      val zs = graft.operators.JsonlShard.writeShards(
        s, rows.where(col("shard") >= 4), "shard", "line", Seq("doc_id"), "zstd")
      graft.operators.JsonlShard.explodeLines(s, gz.union(zs)).toDF()
        .select(col("shard_id"), col("line_idx"),
          from_json(col("line"), org.apache.spark.sql.types.StructType
            .fromDDL("rec LONG, label STRING")).as("j"))
        .select(col("shard_id"), col("line_idx"),
          col("j.rec").as("rec"), col("j.label").as("label"))
        .orderBy("shard_id", "line_idx")
    }),

    // M16: Avro OCF shard reading — the seventh ML corpus container
    // (Hadoop-era corpus publishes: Hive exports, Kafka archive dumps).
    // The gate is CROSS-ENGINE by construction: every shard is encoded
    // by the org.apache.avro REFERENCE writer (on Spark's provided
    // classpath) — even ids null codec, odd ids deflate, ids %5==0
    // carry one null label (the union path) — and decoded by the
    // hand-rolled graft reader under the analytic oracle, so the whole
    // container walk (metadata map, sync framing, zigzag varints, raw
    // deflate, nullable unions) answers to an independent implementation
    // on every drive, not just in the spec.
    "m30_avro_shards" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types._
      val schemaJson = graft.operators.AvroShard.schemaJson("graft_rec", Seq(
        "rec" -> graft.operators.AvroShard.ALong,
        "label" -> graft.operators.AvroShard.AString,
        "value" -> graft.operators.AvroShard.ADouble))
      val shards = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          import org.apache.avro.file.{CodecFactory, DataFileWriter}
          import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
          val schema = new org.apache.avro.Schema.Parser().parse(schemaJson)
          it.map { id =>
            val bos = new java.io.ByteArrayOutputStream()
            val w = new DataFileWriter[GenericRecord](
              new GenericDatumWriter[GenericRecord](schema))
            w.setCodec(if (id % 2 == 0) CodecFactory.nullCodec()
                       else CodecFactory.deflateCodec(6))
            w.create(schema, bos)
            val k = (2 + id % 3).toInt
            (0 until k).foreach { r =>
              val rec = new GenericData.Record(schema)
              rec.put("rec", id * 10 + r)
              rec.put("label", if ((id + r) % 5 == 0) null else s"l${(id + r) % 4}")
              rec.put("value", (id % 97).toDouble + r * 0.25)
              w.append(rec)
            }
            w.close()
            (id, bos.toByteArray)
          }
        }.toDF("shard_id", "payload")
      val contract = StructType(Seq(StructField("rec", LongType),
        StructField("label", StringType), StructField("value", DoubleType)))
      graft.operators.AvroShard.explodeRowsAs(s, shards, contract)
        .transform(d => sortedOnce(d, "shard_id", "rec_idx"))
    }),

    // M16 write side: DISTRIBUTED Avro OCF shard publishing (the
    // m24/m27/m28/m29 stance for the seventh container) — docs hash into
    // 7 shards, each shard's rows stream through the block encoder
    // (blocks of 16, so every shard is multi-block; deflate codec), and
    // the gate reads the payloads back through the schema-driven
    // reader: schema render, nullable-union encode, block framing, sync
    // discipline and within-shard order all sit under the oracle.
    "m31_avro_shard_write" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val rows = t(s, dir, "documents").select(
        (col("doc_id") % 7).as("shard"),
        col("doc_id"), col("lang"),
        ((col("doc_id") % 13).cast("double") + 0.5).as("score"),
        (col("doc_id") % 2 === 0).as("flags"),
        array(col("doc_id"), col("doc_id") % 5).as("tags"))
      val shards = graft.operators.AvroShard.writeShards(
        s, rows, "shard", Seq("doc_id"), codec = "deflate", blockRows = 16)
      val contract = StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("score", DoubleType), StructField("flags", BooleanType),
        StructField("tags", ArrayType(LongType))))
      graft.operators.AvroShard.explodeRowsAs(s, shards, contract)
        .select(col("shard_id"), col("rec_idx"), col("doc_id"), col("lang"),
          col("score"), col("flags").cast("long").as("flag"),
          size(col("tags")).cast("long").as("n_tags"),
          aggregate(col("tags"), lit(0L), (a, x) => a + x).as("tags_sum"))
        .orderBy("shard_id", "rec_idx")
    }),

    // M18 (safetensors): the eighth ML corpus container — the HF
    // tensor-publishing format (anti-pickle: one JSON header, one flat
    // buffer). Gate round-trips the WRITE -> READ path over the real
    // embeddings table: vectors hash into 31 shards, each shard
    // publishes one F32 tensor per vector plus an I64 ids tensor, and
    // the reader's per-tensor stats (exact-order double sums, min/max)
    // answer to DuckDB recomputing them from the source lists.
    "m32_safetensors_shards" -> ((s, dir) => {
      import s.implicits._
      val shards = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
        .groupByKey(_._1 % 31)
        .mapGroups { (sid, it) =>
          import graft.operators.SafetensorsShard._
          val vecs = it.toSeq.sortBy(_._1)
          val tensors = vecs.map { case (id, v) =>
            Tensor(s"v$id", "F32", Seq(v.length.toLong), encodeF32(v))
          } :+ Tensor("ids", "I64", Seq(vecs.size.toLong),
            encodeI64(vecs.map(_._1).toArray))
          (sid, encodeShard(tensors, Seq("producer" -> "graft")))
        }.toDF("shard_id", "payload")
      graft.operators.SafetensorsShard.explodeTensors(s, shards)
        .transform(d => sortedOnce(d, "shard_id", "name"))
    }),

    // M19 (npy/npz): the ninth container — the scientific-Python
    // interchange format. Same write->read stance as m32 but through
    // the ZIP composition: vectors hash into 23 npz shards, each a
    // STORED zip of one f4 .npy per vector plus an i8 ids member,
    // decoded back through ZipShard's walk + the npy header parse.
    "m33_npz_shards" -> ((s, dir) => {
      import s.implicits._
      val shards = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
        .groupByKey(_._1 % 23)
        .mapGroups { (sid, it) =>
          import graft.operators.{NpyShard, SafetensorsShard}
          val vecs = it.toSeq.sortBy(_._1)
          val arrays = vecs.map { case (id, v) =>
            (s"v$id", "f4", Seq(v.length.toLong),
              SafetensorsShard.encodeF32(v))
          } :+ (("ids", "i8", Seq(vecs.size.toLong),
            SafetensorsShard.encodeI64(vecs.map(_._1).toArray)))
          (sid, NpyShard.encodeNpz(arrays))
        }.toDF("shard_id", "payload")
      graft.operators.NpyShard.explodeNpz(s, shards)
        .transform(d => sortedOnce(d, "shard_id", "name"))
    }),

    // M18b (m34): F16/BF16 safetensors decode (VERDICT r10 missing #4 —
    // the MAJORITY dtypes of published tensor shards, promoted from loud
    // reject to bit-exact widening). Payloads are analytically planted:
    // every element is an exactly-representable half/bfloat16 value that
    // is ALSO an exact double sum term (quarter-steps, small ints,
    // 2^-24 subnormal multiples), so the oracle recomputes sum/min/max
    // in closed form and the whole widening walk — normals, subnormals,
    // both byte orders of the 16-bit words — sits under the hash.
    "m34_safetensors_f16" -> ((s, dir) => {
      import s.implicits._
      val shards = t(s, dir, "documents")
        .select(col("doc_id")).as[Long]
        .groupByKey(_ % 13)
        .mapGroups { (sid, it) =>
          import graft.operators.SafetensorsShard._
          val ids = it.toSeq.sorted
          val tensors = ids.flatMap { id =>
            val kh = (1 + id % 5).toInt
            val half = Array.tabulate(kh)(j =>
              doubleToHalf(((id * 3 + j) % 255) * 0.25 - 16.0))
            val kb = (1 + id % 3).toInt
            val bf = Array.tabulate(kb)(j =>
              doubleToBf16(((id + j) % 127) - 63.0))
            Seq(Tensor(s"b$id", "BF16", Seq(kb.toLong), encodeU16(bf)),
              Tensor(s"h$id", "F16", Seq(kh.toLong), encodeU16(half)))
          } :+ Tensor("sub", "F16", Seq(8L), encodeU16(
            Array.tabulate(8)(j =>
              doubleToHalf(((sid * 8 + j) % 11) * 5.9604644775390625e-8))))
          (sid, encodeShard(tensors))
        }.toDF("shard_id", "payload")
      graft.operators.SafetensorsShard.explodeTensors(s, shards)
        .transform(d => sortedOnce(d, "shard_id", "name"))
    }),

    // M35: the release checksum manifest — every published corpus ships
    // per-shard SHA-256 digests plus a corpus-level manifest digest
    // (HF/WebDataset convention; consumers verify downloads against it).
    // Two-level: per shard (docs assembled in doc order — array_sort of
    // (doc_id, text) structs makes the assembly order explicit, never
    // partition-dependent), then the corpus digest = sha256 of the
    // per-shard digests concatenated in shard order. Per-shard state is
    // bounded by the PUBLISHING contract (shards are sized for release);
    // the corpus row folds 7 digest strings. All built-ins (sha2,
    // collect_list, array_sort) — no UDF.
    "m35_checksum_manifest" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(
        (col("doc_id") % 7).as("shard_id"), col("doc_id"), col("text"))
      val bodies = docs.groupBy("shard_id").agg(
        count(lit(1)).as("n_docs"),
        concat_ws("\n", transform(
          array_sort(collect_list(struct(col("doc_id"), col("text")))),
          x => x.getField("text"))).as("body"))
      val sh = bodies.select(lit("shard").as("level"), col("shard_id"),
        col("n_docs"), octet_length(col("body")).cast("long").as("n_bytes"),
        sha2(col("body"), 256).as("sha"))
      val corpus = sh.agg(sum("n_docs").as("n_docs"),
          sum("n_bytes").as("n_bytes"),
          sha2(concat_ws("", transform(
            array_sort(collect_list(struct(col("shard_id"), col("sha")))),
            x => x.getField("sha"))), 256).as("sha"))
        .select(lit("corpus").as("level"), lit(-1L).as("shard_id"),
          col("n_docs"), col("n_bytes"), col("sha"))
      sortedOnce(sh.unionByName(corpus), "shard_id")
    }),

    // F1-F3: the electricity-CSV parser family end to end, oracle-gated.
    // Each doc becomes a multi-section CSV (preamble block + automated
    // 3-column section + manual 2-column section; docs with id % 7 == 0
    // get a spring-forward wall time that must drop the WHOLE manual
    // section, F3). January docs are GMT (UTC=wall), July docs BST
    // (UTC=wall-1h) — so the DST-correct conversion is analytically
    // computable by the oracle. Parsing runs distributed per doc.
    "f01_electricity_parse" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id")).as[Long]
        .flatMap { id =>
          val month = if (id % 2 == 0) "01" else "07"
          val sb = new StringBuilder
          sb.append("Site Information,meter 7\n")
          sb.append("address,some site\n")
          sb.append("time,Date,kW\n")
          for (k <- 0 until 3)
            sb.append(f"${10 + k}%02d:00:00,15/$month%s/21,${(id * 10 + k) / 4.0}%s\n")
          sb.append("time,kW\n")
          for (k <- 0 until 2)
            sb.append(f"16/$month%s/21 ${8 + k}%02d:30:00,${(id + k) / 2.0}%s\n")
          if (id % 7 == 0) sb.append("28/03/21 01:30:00,9.0\n")
          val (rs, _) = graft.sources.ElectricityCsv
            .parseContent(s"doc_$id.csv", sb.toString)
          rs.map(r => (r.fileName, r.dateTimeUtc.getTime / 1000, r.powerMw))
        }.toDF("file_name", "ts_epoch", "power_mw")
        .orderBy("file_name", "ts_epoch", "power_mw")
    }),

    // F7: the moderator Gaussian-peak fit, oracle-gated. Each doc becomes
    // a noiseless histogram from a known (a, mu, sigma) + flat background;
    // the LM fit must recover the true parameters (noiseless data -> the
    // global minimum IS the generating truth), reported on a milli grid so
    // float convergence noise (~1e-8) cannot flip the rounding. The
    // oracle states the generating truth directly.
    "f02_moderator_fit" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val a = 100.0 + id % 50
          val mu = 5.0 + (id % 10) / 10.0
          val sg = 0.5 + (id % 5) / 10.0
          val bg = 10.0
          val xs = Array.tabulate(81)(i => i * 0.25)
          val model = graft.fit.GaussNewton.gaussianFlatBg(bg) _
          val ys = xs.map(x => model(x, Array(a, mu, sg)))
          val ymax = ys.max
          val p0 = Array(ymax - bg, xs(ys.indexOf(ymax)), 1.0)
          val r = graft.fit.GaussNewton.fit(xs, ys, p0,
            Array(0.0, 0.0, 0.01), Array(1e4, 20.0, 10.0), model)
          (id, math.round(r.params(0) * 1000),
            math.round(r.params(1) * 1000),
            math.round(math.abs(r.params(2)) * 1000))
        }).toDF("hist_id", "a_milli", "mu_milli", "sigma_milli")
        .orderBy("hist_id")
    }),

    // EV06: weekly cohort retention — users bucketed by first-seen week,
    // distinct-active counts per (cohort, week). Two key-shuffles (first
    // week, cohort grid), both with partial aggregation; the user_id join
    // reuses the first shuffle's key.
    "ev06_retention" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
      val first = ev.groupBy("user_id").agg(min(col("wk")).as("cohort_wk"))
      ev.join(first, "user_id")
        .groupBy(col("cohort_wk"), col("wk"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        .select(col("cohort_wk").cast("long").as("cohort_epoch"),
          col("wk").cast("long").as("week_epoch"), col("n_active"))
        .orderBy("cohort_epoch", "week_epoch")
    }),

    // Q29: ROLLUP grouping sets — subtotal lattice in one pass (Catalyst
    // expands the sets; the exchange is still a single hash partitioning).
    "q29_rollup" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"), TR.sumExact(col("l_quantity")).as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("cnt"), col("sum_qty"))
        .orderBy("rf", "ls"))
  )

  // the T1/T2 streaming paths driven end to end (readStream file source ->
  // stateful agg / flatMapGroupsWithState -> sink) against batch SQL
  // oracles; prepended so the literal above keeps its expected-type-driven
  // lambda inference

  /** The corpus-clean stages shared by d11 (final keep set) and d24 (per-
    * stage counts): d09 quality rule -> exact dedup (keep lowest id per
    * digest) -> MinHash near-dup prune (drop every doc_b of a pair). */
  private def cleanStages(s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    val d = t(s, dir, "documents")
    val quality = d
      .select(col("doc_id"), col("text"), TF.tokens(col("text")).as("w"))
      .select(col("doc_id"), col("text"),
        length(col("text")).cast("long").as("n_chars"),
        TF.punctCount(col("text")).as("n_punct"),
        TF.tokenCountOfTokens(col("w")).as("n_tokens"),
        TF.stopwordCountOfTokens(col("w")).as("n_stop"))
      .where(expr("""n_tokens >= 5 AND n_stop >= 1 AND
          (CASE WHEN n_chars > 0 THEN (n_punct * 1000000) div n_chars ELSE 0 END)
            <= 200000"""))
      .select("doc_id", "text")
    // quality feeds the digest group AND the keep-join; deduped feeds the
    // pair generation AND the anti-join (d24 additionally counts each) —
    // persist both so each stage evaluates once per query, mirroring the
    // oracle's MATERIALIZED CTEs. Handles are registered for
    // releaseCaches() so harness loops don't accumulate session caches.
    val qp = registerCache(quality)
    val keepIds = Dedup.exactDedup(qp, "doc_id", "text")
      .select(col("keep_id").as("doc_id"))
    val deduped = registerCache(qp.join(keepIds, "doc_id"))
    val nearDrop = Dedup.minhashNearDupPairs(deduped, "doc_id", "text")
      .select(col("doc_b").as("doc_id")).distinct()
    val cleaned = deduped.join(nearDrop, Seq("doc_id"), "left_anti")
    (qp, deduped, cleaned)
  }

  // ------------------------------------------------------------------
  // DuckDB oracle SQL — identical semantics, dialect-translated.
  // ------------------------------------------------------------------

  private val P = TF.HashMod
  private def bandsValues: String =
    TF.MinhashA.zip(TF.MinhashB).zipWithIndex
      .map { case ((a, b), j) => s"($j,$a,$b)" }.mkString(",")

  /** DuckDB list expression: portable polynomial hash of string expr `e`. */
  private def duckHash(e: String): String =
    s"list_reduce([ascii($e[k]) for k in range(1, length($e)+1)], " +
      s"(a,c) -> (CAST(a AS BIGINT)*31+c) % $P)"

  /** Shared by d14 (exact join) and d29 (Bloom prefilter + exact verify):
    * both compute the same training-docs-sharing-a-benchmark-fingerprint
    * set — d29's sketch can only add candidates the verify join removes. */
  private def decontaminateOracle: String =
    s"""WITH h AS MATERIALIZED (
         SELECT doc_id,
                [${duckHash("g")} for g in
                 [substring(text, i, 3)
                  for i in range(1, greatest(length(text)-2, 0)+1)]] AS hs
         FROM documents),
       fp AS (
         SELECT doc_id,
                list_sort(list_distinct(
                  [list_min(hs[i:i+7])
                   for i in range(1, greatest(len(hs)-7, 1)+1)])) AS fps
         FROM h WHERE len(hs) > 0),
       rows_ AS (SELECT doc_id, unnest(fps) AS f FROM fp),
       bench AS (SELECT DISTINCT f FROM rows_ WHERE doc_id % 97 = 0)
       SELECT DISTINCT doc_id FROM rows_
       WHERE doc_id % 97 <> 0 AND f IN (SELECT f FROM bench)
       ORDER BY doc_id"""

  private def simhashOracle: String = {
    val bitSums = (0 until 20).map(j =>
      s"SUM(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b$j").mkString(", ")
    val fp = (0 until 20).map(j =>
      s"(CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
    s"""WITH tok AS (
          SELECT doc_id, unnest([x for x in string_split(text, ' ') if length(x) > 0]) AS t
          FROM documents),
        th AS (SELECT doc_id, ${duckHash("t")} AS h FROM tok),
        bits AS (SELECT doc_id, $bitSums FROM th GROUP BY doc_id)
        SELECT doc_id, CAST($fp AS BIGINT) AS simhash FROM bits ORDER BY doc_id"""
  }

  /** The MinHash-LSH candidate+verify pipeline as a reusable CTE body over
    * any (doc_id, text) relation `src` — shared by the d02 gate and the
    * d11 corpus-clean composition. Two verification views: `verf` verifies
    * only candidates passing the deterministic mod-16 signature-agreement
    * prefilter (matching sketch nibbles / NumPerms >= 4/5 - 1/4 — the exact
    * mirror of [[graft.operators.Dedup.minhashNearDupPairs]]'s in-band-join
    * scale guard), for every gate whose engine side goes through
    * minhashNearDupPairs; `ver` verifies ALL candidates, for the paths
    * that don't prefilter (d44's estimator-quality gate, d23's
    * batch-vs-corpus probe, d30's index-probe). */
  private def minhashCtes(src: String, candSql: String = ""): String = {
    val rows = TF.LshRows
    // default candidate set: symmetric self-join over the capped band keys
    val cand = if (candSql.nonEmpty) candSql
      else """SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
              FROM bkc x JOIN bkc y ON x.band_id = y.band_id
                AND x.band_key = y.band_key AND x.doc_id < y.doc_id"""
    s"""sh AS MATERIALIZED (
          SELECT doc_id,
                 list_distinct([substring(text, i, 3)
                                for i in range(1, greatest(length(text)-2, 0)+1)]) AS s
          FROM $src),
        h AS MATERIALIZED (SELECT doc_id, [${duckHash("g")} for g in s] AS hs FROM sh),
        mh AS MATERIALIZED (
          SELECT doc_id, bands.j,
                 list_min([(CAST(bands.a AS BIGINT)*x + bands.b) % $P for x in hs]) AS v
          FROM h, (VALUES $bandsValues) bands(j, a, b)),
        bk AS MATERIALIZED (
          SELECT doc_id, j // $rows AS band_id,
                 string_agg(CAST(v AS VARCHAR), ',' ORDER BY j) AS band_key
          FROM mh GROUP BY doc_id, j // $rows),
        bkc AS MATERIALIZED (
          SELECT * FROM bk
          QUALIFY COUNT(*) OVER (PARTITION BY band_id, band_key)
                  <= ${graft.operators.Dedup.DefaultMaxBandBucket}),
        cand AS ($cand),
        hset AS MATERIALIZED (SELECT doc_id, list_sort(list_distinct(hs)) AS hset FROM h),
        ver AS (SELECT doc_a, doc_b,
                       len(list_intersect(ha.hset, hb.hset)) AS i,
                       len(ha.hset) + len(hb.hset) - len(list_intersect(ha.hset, hb.hset)) AS u
                FROM cand JOIN hset ha ON ha.doc_id = doc_a
                          JOIN hset hb ON hb.doc_id = doc_b),
        estm AS (SELECT c.doc_a, c.doc_b,
                        SUM(CASE WHEN ma.v % 16 = mb.v % 16
                                 THEN 1 ELSE 0 END) AS m
                 FROM cand c JOIN mh ma ON ma.doc_id = c.doc_a
                             JOIN mh mb ON mb.doc_id = c.doc_b AND mb.j = ma.j
                 GROUP BY 1, 2),
        candf AS (SELECT doc_a, doc_b FROM estm
                  WHERE m * ${4 * 5} >= ${TF.NumPerms} * ${4 * 4 - 5}),
        verf AS (SELECT doc_a, doc_b,
                       len(list_intersect(ha.hset, hb.hset)) AS i,
                       len(ha.hset) + len(hb.hset) - len(list_intersect(ha.hset, hb.hset)) AS u
                FROM candf JOIN hset ha ON ha.doc_id = doc_a
                           JOIN hset hb ON hb.doc_id = doc_b)"""
  }

  private def minhashOracle: String =
    s"""WITH ${minhashCtes("documents")}
        SELECT doc_a, doc_b, CAST((i * 1000000) // u AS BIGINT) AS jaccard_e6
        FROM verf WHERE i * 5 >= u * 4 ORDER BY doc_a, doc_b"""

  /** e15: SQ8 recall@5 vs exact-L2 truth — e13's quantized CTEs plus a
    * brute-force double-L2 truth ranking (duckSqDist mirrors the kernel's
    * fold order) and a per-query hit count. */
  private def sq8RecallOracle: String =
    s"""WITH v AS (SELECT vec_id, embedding,
                 unnest(range(1, len(embedding) + 1)) AS pos
               FROM embeddings),
        x AS (SELECT vec_id, pos,
                CAST(embedding[pos] AS DOUBLE) AS x FROM v),
        st AS (SELECT pos, MIN(x) AS mn, MAX(x) AS mx FROM x GROUP BY 1),
        c AS (SELECT x.vec_id, x.pos,
                CASE WHEN st.mx = st.mn THEN 0
                     ELSE LEAST(255, GREATEST(0,
                       CAST(floor(((x.x - st.mn) * 255.0) / (st.mx - st.mn))
                         AS BIGINT))) END AS code
              FROM x JOIN st USING (pos)),
        qd AS (SELECT vec_id AS query_id, pos, code AS qc
               FROM c WHERE vec_id < 10),
        sc AS (SELECT qd.query_id, c.vec_id AS neighbor_id,
                SUM((qd.qc - c.code) * (qd.qc - c.code)) AS dist
              FROM qd JOIN c ON c.pos = qd.pos AND c.vec_id <> qd.query_id
              GROUP BY 1, 2),
        r AS (SELECT query_id, neighbor_id,
                ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY dist ASC, neighbor_id ASC)
                  AS ark FROM sc),
        tq AS (SELECT vec_id AS query_id, embedding AS q_emb
               FROM embeddings WHERE vec_id < 10),
        tr AS (SELECT tq.query_id, e.vec_id AS neighbor_id,
                 ${duckSqDist("tq.q_emb", "e.embedding")} AS dd
               FROM tq JOIN embeddings e ON e.vec_id <> tq.query_id),
        tt AS (SELECT query_id, neighbor_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY dd ASC, neighbor_id ASC)
                   AS trk FROM tr),
        hits AS (SELECT t.query_id, COUNT(*) AS n
                 FROM tt t JOIN r a ON a.query_id = t.query_id
                   AND a.neighbor_id = t.neighbor_id
                 WHERE t.trk <= 5 AND a.ark <= 5 GROUP BY 1)
        SELECT q.vec_id AS query_id,
          CAST(COALESCE(h.n, 0) AS BIGINT) AS n_hits,
          CAST((COALESCE(h.n, 0) * 1000000) // 5 AS BIGINT) AS recall_e6
        FROM embeddings q LEFT JOIN hits h ON h.query_id = q.vec_id
        WHERE q.vec_id < 10 ORDER BY query_id"""

  /** d44: per-candidate signature-agreement estimate vs exact Jaccard. */
  private def lshEstimateOracle: String =
    s"""WITH ${minhashCtes("documents")},
        est AS (SELECT c.doc_a, c.doc_b,
                  SUM(CASE WHEN ma.v = mb.v THEN 1 ELSE 0 END) AS m
                FROM cand c
                JOIN mh ma ON ma.doc_id = c.doc_a
                JOIN mh mb ON mb.doc_id = c.doc_b AND mb.j = ma.j
                GROUP BY 1, 2)
        SELECT v.doc_a, v.doc_b,
          CAST((e.m * 1000000) // ${TF.NumPerms} AS BIGINT) AS est_e6,
          CAST((v.i * 1000000) // v.u AS BIGINT) AS jaccard_e6,
          CAST(ABS((e.m * 1000000) // ${TF.NumPerms}
                   - (v.i * 1000000) // v.u) AS BIGINT) AS err_e6
        FROM ver v JOIN est e ON e.doc_a = v.doc_a AND e.doc_b = v.doc_b
        ORDER BY v.doc_a, v.doc_b"""

  /** One shared text for the skew-stress hot group (x01/x02). Must stay a
    * plain single-quotable string — it is inlined into the oracle SQL. */
  private val HotText = "the same boilerplate paragraph shared by every " +
    "document in the hot group with enough length to fill the shingle set"

  private def hotBandDocs(s: SparkSession, dir: String, mod: Int): DataFrame =
    t(s, dir, "documents").withColumn("text",
      when(col("doc_id") % mod === 0, lit(HotText)).otherwise(col("text")))

  private def skewMinhashOracle(mod: Int): String =
    s"""WITH docs_hot AS (
          SELECT doc_id, CASE WHEN doc_id % $mod = 0 THEN '$HotText'
                              ELSE text END AS text
          FROM documents),
        ${minhashCtes("docs_hot")}
        SELECT doc_a, doc_b, CAST((i * 1000000) // u AS BIGINT) AS jaccard_e6
        FROM verf WHERE i * 5 >= u * 4 ORDER BY doc_a, doc_b"""

  /** d15/d31 shared oracle: connected components of the verified near-dup
    * pair graph via a recursive reachability CTE; canonical label = min
    * doc id. Both the label-propagation and the large-star/small-star
    * implementations must reproduce it exactly. */
  private def dupClustersOracle: String =
    s"""WITH RECURSIVE ${minhashCtes("documents")},
         pairs AS (SELECT doc_a, doc_b FROM verf WHERE i * 5 >= u * 4),
         e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
               UNION ALL SELECT doc_b, doc_a FROM pairs),
         reach(doc_id, r) AS (
           SELECT DISTINCT src, src FROM e
           UNION
           SELECT re.doc_id, e.dst FROM reach re JOIN e ON re.r = e.src),
         lab AS (SELECT doc_id, MIN(r) AS cluster_id FROM reach GROUP BY doc_id),
         siz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM lab GROUP BY cluster_id)
         SELECT l.doc_id, l.cluster_id, s.cluster_size
         FROM lab l JOIN siz s USING (cluster_id) ORDER BY l.doc_id"""

  /** d11/d24 shared CTE chain: the d09 quality rule -> exact dedup (keep
    * lowest id per digest) -> MinHash near-dup prune. */
  private def corpusCleanCtes: String =
    s"""qbase AS (
          SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n_chars,
            CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS BIGINT) AS n_punct,
            [x for x in string_split(text, ' ') if length(x) > 0] AS toks
          FROM documents),
        q AS (
          SELECT doc_id, text FROM (
            SELECT doc_id, text, n_chars, n_punct,
              CAST(len(toks) AS BIGINT) AS n_tokens,
              CAST(len([x for x in toks
                        if x IN ('the','a','of','and','to','in')]) AS BIGINT) AS n_stop
            FROM qbase)
          WHERE n_tokens >= 5 AND n_stop >= 1 AND
            (CASE WHEN n_chars > 0 THEN (n_punct * 1000000) // n_chars ELSE 0 END) <= 200000),
        ex AS (SELECT MIN(doc_id) AS doc_id FROM q GROUP BY md5(text)),
        clean1 AS (SELECT q.doc_id, q.text FROM q JOIN ex USING (doc_id)),
        ${minhashCtes("clean1")},
        neardrop AS (SELECT DISTINCT doc_b FROM verf WHERE i * 5 >= u * 4)"""

  private def corpusCleanOracle: String =
    s"""WITH $corpusCleanCtes
        SELECT doc_id FROM clean1
        WHERE doc_id NOT IN (SELECT doc_b FROM neardrop)
        ORDER BY doc_id"""

  /** d48/d48b shared scoring CTEs: d40's quantized-NB scoring restated
    * over the held-out slice, ending at `sb(doc_id, s, y)`. Kept
    * byte-identical between the calibration sweep and its histogram
    * diagnostic so the two gates disagree only where their POST-scoring
    * arithmetic differs. (The constructs here — list comprehension,
    * `bin()` bit-length — are proven portable by d40's green driver row;
    * the r9/r10 d48 red was the uncast HUGEINT `threshold` column, which
    * DuckDB's pandas bridge widens to float64.) */
  private val d48ScoringCtes: String =
    """toks AS (
           SELECT doc_id, (doc_id % 3 <> 0) AS train, (lang = 'en') AS pos,
                  [x for x in string_split(text, ' ')
                   if length(x) > 0] AS w
           FROM documents),
         tok AS (SELECT doc_id, train, pos, unnest(w) AS w FROM toks),
         tr AS (SELECT * FROM tok WHERE train),
         cnt AS (SELECT w, SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS cp,
                        SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS cn
                 FROM tr GROUP BY 1),
         tot AS (SELECT SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS tp,
                        SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS tn FROM tr),
         nd AS (SELECT SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS np,
                       SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS nn
                FROM toks WHERE train),
         sc AS (SELECT t.doc_id,
                  (length(bin(COALESCE(c.cp, 0) + 1)) - 1)
                  - (length(bin(COALESCE(c.cn, 0) + 1)) - 1)
                  + (length(bin(tt.tn)) - 1) - (length(bin(tt.tp)) - 1) AS b
                FROM tok t LEFT JOIN cnt c USING (w) CROSS JOIN tot tt),
         agg AS (SELECT doc_id, SUM(b) AS tb FROM sc GROUP BY 1),
         sb AS (SELECT d.doc_id,
                  (length(bin(n.np)) - 1) - (length(bin(n.nn)) - 1)
                    + COALESCE(a.tb, 0) AS s,
                  (d.lang = 'en') AS y
                FROM documents d LEFT JOIN agg a USING (doc_id)
                CROSS JOIN nd n
                WHERE d.doc_id % 3 = 0)"""

  /** d52/d53: BPE training unrolled — the merge loop restated as `k`
    * chained MATERIALIZED CTE layers (materialization is load-bearing:
    * each layer references its predecessor several times, so inlined CTEs
    * would re-expand the whole prefix multiplicatively — the same
    * composed-plan blowup d45 hit in Catalyst, in DuckDB form). Token
    * sequences travel as separator-bracketed strings (chr(10) cannot
    * occur inside a token: words come from splitting on \s+), so one
    * string `replace` per layer applies the winning merge with exact
    * token-boundary alignment and left-to-right greedy overlap semantics
    * — bit-equal to the trainer's array sweep. */
  private def bpeOracleCtes(k: Int): String = {
    val S = "chr(10)"
    val sb = new StringBuilder
    sb.append(s"""w0 AS MATERIALIZED (
          SELECT w, CAST(count(*) AS BIGINT) c,
            $S || array_to_string(string_split(w, ''), $S||$S) || $S AS seq
          FROM (SELECT unnest(string_split_regex(lower(text), '\\s+')) AS w
                FROM documents)
          WHERE len(w) > 0 GROUP BY w)""")
    for (i <- 0 until k) {
      // empty pair table (vocab fully merged) -> the coalesce falls back
      // to a never-matching pattern and the layer is an exact no-op,
      // mirroring the trainer's early loop exit.
      sb.append(s""",
        p$i AS MATERIALIZED (
          SELECT t.toks[j] AS a, t.toks[j+1] AS b, SUM(t.c) AS pc
          FROM (SELECT c, list_filter(string_split(seq, $S), x -> x <> '')
                  AS toks FROM w$i) t,
               unnest(range(1, len(t.toks))) u(j)
          GROUP BY 1, 2),
        b$i AS MATERIALIZED (
          SELECT a, b FROM p$i ORDER BY pc DESC, a, b LIMIT 1),
        w${i + 1} AS MATERIALIZED (
          SELECT w, c, replace(seq,
            coalesce((SELECT $S||a||$S||$S||b||$S FROM b$i), chr(7)),
            coalesce((SELECT $S||a||b||$S FROM b$i), '')) AS seq
          FROM w$i)""")
    }
    sb.toString
  }

  private def bpeMergesOracle(k: Int): String =
    "WITH " + bpeOracleCtes(k) + "\n" +
      (0 until k)
        .map(i => s"SELECT CAST($i AS BIGINT) AS rank, a AS lhs, b AS rhs FROM b$i")
        .mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY rank")

  private def bpeEncodeOracle(k: Int): String =
    s"""WITH ${bpeOracleCtes(k)},
        fin AS MATERIALIZED (
          SELECT w, CAST(len(list_filter(string_split(seq, chr(10)),
            x -> x <> '')) AS BIGINT) AS nt
          FROM w$k)
        SELECT d.doc_id,
          CAST(coalesce(s.nw, 0) AS BIGINT) AS n_words,
          CAST(coalesce(s.nt, 0) AS BIGINT) AS n_bpe_tokens
        FROM documents d LEFT JOIN (
          SELECT dw.doc_id, count(*) AS nw, sum(f.nt) AS nt
          FROM (SELECT doc_id, w FROM (SELECT doc_id,
                  unnest(string_split_regex(lower(text), '\\s+')) AS w
                  FROM documents)
                WHERE len(w) > 0) dw
          JOIN fin f USING (w) GROUP BY dw.doc_id) s USING (doc_id)
        ORDER BY doc_id"""

  /** d45: the composed curation pipeline, every stage restated naively
    * over the previous stage's survivors — d40's classifier, d37's LM
    * (trained on the SURVIVORS' trusted slice), d02's verified-pair prune,
    * d43's per-host cap, d41's global budget (both as naive windows), and
    * k04's mixture — with one monotone survival flag per stage. */
  private def curationPipelineOracle: String =
    s"""WITH toks AS MATERIALIZED (
          SELECT doc_id, lang, (doc_id % 3 <> 0) AS train,
                 (lang = 'en') AS ispos,
                 [x for x in string_split(text, ' ')
                  if length(x) > 0] AS w
          FROM documents),
        -- stage 1: quantized NB classifier (d40) on the raw corpus
        tok1 AS (SELECT doc_id, train, ispos, unnest(w) AS w FROM toks),
        tr1 AS (SELECT * FROM tok1 WHERE train),
        cnt1 AS (SELECT w, SUM(CASE WHEN ispos THEN 1 ELSE 0 END) AS cp,
                        SUM(CASE WHEN ispos THEN 0 ELSE 1 END) AS cn
                 FROM tr1 GROUP BY 1),
        tot1 AS (SELECT SUM(CASE WHEN ispos THEN 1 ELSE 0 END) AS tp,
                        SUM(CASE WHEN ispos THEN 0 ELSE 1 END) AS tn
                 FROM tr1),
        nd1 AS (SELECT SUM(CASE WHEN ispos THEN 1 ELSE 0 END) AS np,
                       SUM(CASE WHEN ispos THEN 0 ELSE 1 END) AS nn
                FROM toks WHERE train),
        sc1 AS (SELECT t.doc_id,
                  (length(bin(COALESCE(c.cp, 0) + 1)) - 1)
                  - (length(bin(COALESCE(c.cn, 0) + 1)) - 1)
                  + (length(bin(tt.tn)) - 1) - (length(bin(tt.tp)) - 1) AS b
                FROM tok1 t LEFT JOIN cnt1 c USING (w) CROSS JOIN tot1 tt),
        agg1 AS (SELECT doc_id, SUM(b) AS tb FROM sc1 GROUP BY 1),
        s1 AS MATERIALIZED (
          SELECT d.doc_id,
            (length(bin(n.np)) - 1) - (length(bin(n.nn)) - 1)
              + COALESCE(a.tb, 0) AS score_bits
          FROM documents d LEFT JOIN agg1 a USING (doc_id)
          CROSS JOIN nd1 n
          WHERE (length(bin(n.np)) - 1) - (length(bin(n.nn)) - 1)
              + COALESCE(a.tb, 0) > 0),
        -- stage 2: bigram LM (d37) trained on the survivors' trusted slice
        t2 AS (SELECT toks.doc_id, toks.train, toks.w
               FROM toks JOIN s1 USING (doc_id)),
        p2 AS (SELECT doc_id, train, pos, w[pos] AS cur,
                 CASE WHEN pos > 1 THEN w[pos-1] END AS prev
               FROM (SELECT doc_id, train,
                       unnest(range(1, len(w)+1)) AS pos, w FROM t2)),
        tr2 AS (SELECT * FROM p2 WHERE train),
        ts2 AS (SELECT COUNT(*) AS t FROM tr2),
        u2 AS (SELECT cur AS w, COUNT(*) AS c FROM tr2 GROUP BY 1),
        bg2 AS (SELECT prev, cur, COUNT(*) AS c FROM tr2
                WHERE prev IS NOT NULL GROUP BY 1, 2),
        sc2 AS (SELECT p.doc_id,
                  CASE WHEN p.pos = 1 THEN
                    CASE WHEN u.c IS NOT NULL
                         THEN (length(bin(s.t))-1) - (length(bin(u.c))-1)
                         ELSE (length(bin(s.t))-1) + 4 END
                  ELSE
                    CASE WHEN b.c IS NOT NULL
                         THEN (length(bin(up.c))-1) - (length(bin(b.c))-1)
                         WHEN u.c IS NOT NULL
                         THEN 3 + (length(bin(s.t))-1) - (length(bin(u.c))-1)
                         ELSE 3 + (length(bin(s.t))-1) + 4 END
                  END AS bits
                FROM p2 p
                LEFT JOIN u2 u ON u.w = p.cur
                LEFT JOIN u2 up ON up.w = p.prev
                LEFT JOIN bg2 b ON b.prev = p.prev AND b.cur = p.cur
                CROSS JOIN ts2 s),
        lm2 AS (SELECT doc_id, COUNT(*) AS n_tokens, SUM(bits) AS bits
                FROM sc2 GROUP BY 1),
        lmd AS (SELECT s1.doc_id, s1.score_bits,
                  COALESCE(l.n_tokens, 0) AS n_tokens,
                  COALESCE(l.bits, 0) AS bits
                FROM s1 LEFT JOIN lm2 l USING (doc_id)),
        mstat AS (SELECT SUM(bits) AS tb, SUM(n_tokens) AS tt FROM lmd),
        s2 AS MATERIALIZED (
          SELECT doc_id, score_bits, n_tokens FROM lmd CROSS JOIN mstat
          WHERE n_tokens = 0 OR (bits * 1000 // n_tokens) <=
            (CASE WHEN tt > 0 THEN tb * 1000 // tt ELSE 0 END)),
        -- stage 3: MinHash-LSH near-dup prune (d02 rule) over survivors
        docs3 AS (SELECT d.doc_id, d.text
                  FROM documents d JOIN s2 USING (doc_id)),
        ${minhashCtes("docs3")},
        neardrop AS (SELECT DISTINCT doc_b FROM verf WHERE i * 5 >= u * 4),
        s3 AS MATERIALIZED (
          SELECT * FROM s2
          WHERE doc_id NOT IN (SELECT doc_b FROM neardrop)),
        -- stage 4: per-host 400-token cap (d43 rule), best-first by score
        c4 AS (SELECT s3.*, SUM(n_tokens) OVER (
                 PARTITION BY 'h' || (doc_id % 50)
                 ORDER BY score_bits DESC, doc_id) AS cum FROM s3),
        s4 AS MATERIALIZED (
          SELECT doc_id, score_bits, n_tokens FROM c4 WHERE cum <= 400),
        -- stage 5: global 30-percent token budget (d41 rule)
        b5 AS (SELECT SUM(n_tokens) * 3 // 10 AS budget FROM s4),
        c5 AS (SELECT s4.*, SUM(n_tokens) OVER (
                 ORDER BY score_bits DESC, doc_id) AS cum FROM s4),
        s5 AS MATERIALIZED (
          SELECT doc_id FROM c5 CROSS JOIN b5 WHERE cum <= budget),
        -- stage 6: sqrt-temperature mixture (k04 rule) over the pool
        l6 AS (SELECT s5.doc_id, d.lang
               FROM s5 JOIN documents d USING (doc_id)),
        cnt6 AS (SELECT lang, COUNT(*) AS c FROM l6 GROUP BY 1),
        w6 AS (SELECT lang,
                 (CASE
                   WHEN CAST(floor(sqrt(CAST(c AS DOUBLE))) AS BIGINT)
                        * CAST(floor(sqrt(CAST(c AS DOUBLE))) AS BIGINT) > c
                     THEN CAST(floor(sqrt(CAST(c AS DOUBLE))) AS BIGINT) - 1
                   WHEN (CAST(floor(sqrt(CAST(c AS DOUBLE))) AS BIGINT) + 1)
                        * (CAST(floor(sqrt(CAST(c AS DOUBLE))) AS BIGINT) + 1) <= c
                     THEN CAST(floor(sqrt(CAST(c AS DOUBLE))) AS BIGINT) + 1
                   ELSE CAST(floor(sqrt(CAST(c AS DOUBLE))) AS BIGINT)
                  END) AS w
               FROM cnt6),
        q6 AS (SELECT lang, (100 * w) // (SELECT SUM(w) FROM w6) AS quota
               FROM w6),
        r6 AS (SELECT lang, doc_id,
                 ROW_NUMBER() OVER (PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
               FROM l6),
        s6 AS (SELECT r6.doc_id FROM r6 JOIN q6 USING (lang)
               WHERE rk <= quota)
        SELECT d.doc_id,
          CAST(CASE WHEN f1.doc_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
            AS s_quality,
          CAST(CASE WHEN f2.doc_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
            AS s_perplexity,
          CAST(CASE WHEN f3.doc_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
            AS s_neardup,
          CAST(CASE WHEN f4.doc_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
            AS s_hostcap,
          CAST(CASE WHEN f5.doc_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
            AS s_budget,
          CAST(CASE WHEN f6.doc_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
            AS s_mixture
        FROM documents d
        LEFT JOIN s1 f1 ON f1.doc_id = d.doc_id
        LEFT JOIN s2 f2 ON f2.doc_id = d.doc_id
        LEFT JOIN s3 f3 ON f3.doc_id = d.doc_id
        LEFT JOIN s4 f4 ON f4.doc_id = d.doc_id
        LEFT JOIN s5 f5 ON f5.doc_id = d.doc_id
        LEFT JOIN s6 f6 ON f6.doc_id = d.doc_id
        ORDER BY d.doc_id"""

  /** d24: surviving-doc counts per corpus-clean stage. */
  private def cleanReportOracle: String =
    s"""WITH $corpusCleanCtes
        SELECT CAST(0 AS BIGINT) AS stage_id, 'raw' AS stage,
               (SELECT COUNT(*) FROM documents) AS n_docs
        UNION ALL SELECT 1, 'quality', (SELECT COUNT(*) FROM q)
        UNION ALL SELECT 2, 'exact_dedup', (SELECT COUNT(*) FROM clean1)
        UNION ALL SELECT 3, 'near_dedup',
          (SELECT COUNT(*) FROM clean1
           WHERE doc_id NOT IN (SELECT doc_b FROM neardrop))
        ORDER BY stage_id"""

  /** d23: verified pairs with exactly one "new" side (id % 10 = 0),
    * aggregated per new doc — band keys and cap span the full corpus, so
    * the shared minhash CTEs apply unchanged. */
  /** d30: probe-through-the-persisted-index semantics — the band-bucket
    * cap spans the indexed corpus only; the incoming batch's band keys are
    * uncapped (mirrors LshIndex.build/probe's split). */
  private def lshIndexProbeOracle: String =
    s"""WITH ${minhashCtes("documents", candSql =
          s"""SELECT DISTINCT n.doc_id AS doc_a, i.doc_id AS doc_b
              FROM bk n JOIN (SELECT * FROM bk WHERE doc_id % 10 <> 0
                              QUALIFY COUNT(*) OVER (PARTITION BY band_id, band_key)
                                      <= ${graft.operators.Dedup.DefaultMaxBandBucket}) i
                ON n.band_id = i.band_id AND n.band_key = i.band_key
              WHERE n.doc_id % 10 = 0""")}
        SELECT doc_a AS doc_id, COUNT(*) AS n_matches,
               MAX(CAST((i * 1000000) // u AS BIGINT)) AS best_jaccard_e6
        FROM ver WHERE i * 5 >= u * 4
        GROUP BY 1 ORDER BY doc_id"""

  private def incrementalDedupOracle: String =
    s"""WITH ${minhashCtes("documents")},
        inc AS (SELECT CASE WHEN doc_a % 10 = 0 THEN doc_a ELSE doc_b END AS doc_id,
                       CAST((i * 1000000) // u AS BIGINT) AS j
                FROM ver
                WHERE i * 5 >= u * 4
                  AND ((doc_a % 10 = 0) <> (doc_b % 10 = 0)))
        SELECT doc_id, COUNT(*) AS n_matches, MAX(j) AS best_jaccard_e6
        FROM inc GROUP BY 1 ORDER BY doc_id"""

  /** Sequential double dot product / norms — DuckDB list_reduce mirrors
    * Spark's left-fold exactly. */
  private def duckDot(a: String, b: String): String =
    s"list_reduce([CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE) for x in list_zip($a,$b)], (p,q) -> p+q)"
  private def duckCos(a: String, b: String): String =
    s"ROUND(${duckDot(a, b)} / (sqrt(${duckDot(a, a)}) * sqrt(${duckDot(b, b)})), 6)"

  /** Quantized cosine `floor(cos * 1e6)` as BIGINT — the integer contract
    * of the MMR gate (same double fold order as graft_cosine; floor of a
    * bit-identical double is engine-stable, unlike ROUND-to-decimal
    * comparisons inside a greedy selection). */
  private def duckCosE6(a: String, b: String): String =
    s"CAST(floor((${duckDot(a, b)} / (sqrt(${duckDot(a, a)}) * " +
      s"sqrt(${duckDot(b, b)}))) * 1000000) AS BIGINT)"

  /** e19: greedy MMR unrolled — k chained layers; layer i picks the
    * argmax of 7*rel - 3*max-sim-to-selected over the not-yet-selected
    * pool (ties: value DESC, rel DESC, nid ASC — matching the operator's
    * rel-desc/id-asc pre-sort with strict-greater updates). */
  private def mmrOracle(k: Int): String = {
    val sb = new StringBuilder
    sb.append(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
               FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 500),
        c0 AS (SELECT q.query_id, e.vec_id AS nid, e.embedding AS emb,
                 ${duckCosE6("q.q_emb", "e.embedding")} AS rel
               FROM q JOIN embeddings e
                 ON e.vec_id % 50 <> 0 AND e.vec_id <> q.query_id),
        cand AS MATERIALIZED (SELECT query_id, nid, emb, rel FROM (
               SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY rel DESC, nid ASC) AS rk FROM c0) WHERE rk <= 20),
        s1 AS MATERIALIZED (SELECT query_id, nid, emb, rel,
                 CAST(7 * rel AS BIGINT) AS val FROM (
               SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY rel DESC, nid ASC) AS rk FROM cand) WHERE rk = 1),
        u1 AS (SELECT query_id, nid, emb FROM s1)""")
    for (i <- 2 to k) {
      sb.append(s""",
        m$i AS (SELECT c.query_id, c.nid, any_value(c.emb) AS emb, c.rel,
                  MAX(${duckCosE6("c.emb", "s.emb")}) AS ms
                FROM cand c JOIN u${i - 1} s ON s.query_id = c.query_id
                WHERE NOT EXISTS (SELECT 1 FROM u${i - 1} x
                  WHERE x.query_id = c.query_id AND x.nid = c.nid)
                GROUP BY c.query_id, c.nid, c.rel),
        s$i AS MATERIALIZED (SELECT query_id, nid, emb, rel,
                  CAST(7 * rel - 3 * ms AS BIGINT) AS val FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY (7 * rel - 3 * ms) DESC, rel DESC, nid ASC) AS rk
                FROM m$i) WHERE rk = 1),
        u$i AS (SELECT query_id, nid, emb FROM u${i - 1}
                UNION ALL SELECT query_id, nid, emb FROM s$i)""")
    }
    sb.append("\n        ")
    sb.append((1 to k).map(i =>
        s"SELECT query_id, CAST($i AS BIGINT) AS rank, nid AS neighbor_id, " +
          s"CAST(rel AS BIGINT) AS rel_e6, val AS mmr_value FROM s$i")
      .mkString("SELECT * FROM (", " UNION ALL ", ")"))
    sb.append("\n        ORDER BY query_id, rank")
    sb.toString
  }

  private def knnOracle(cellFilter: String): String =
    s"""WITH q AS (SELECT vec_id AS query_id, label AS q_label, embedding AS q_emb
                   FROM embeddings WHERE vec_id < 10),
        scored AS (
          SELECT q.query_id, e.vec_id AS neighbor_id,
                 ${duckCos("q.q_emb", "e.embedding")} AS score
          FROM q JOIN embeddings e ON e.vec_id <> q.query_id $cellFilter),
        ranked AS (SELECT query_id, neighbor_id, score,
                          ROW_NUMBER() OVER (PARTITION BY query_id
                                             ORDER BY score DESC, neighbor_id ASC) AS rank
                   FROM scored)
        SELECT query_id, rank, neighbor_id, score
        FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""

  /** DuckDB squared-L2 between two list expressions — the same
    * left-to-right fold as [[graft.expressions.VectorKernels.sqDist]]. */
  private def duckSqDist(a: String, b: String): String =
    s"list_reduce([(CAST(p[1] AS DOUBLE) - p[2]) * " +
      s"(CAST(p[1] AS DOUBLE) - p[2]) for p in list_zip($a, $b)], " +
      "(x, y) -> x + y)"

  /** DuckDB mirror of [[graft.operators.Similarity.trainCentroids]] +
    * final assignment as a CTE list (no WITH): Lloyd iterations unrolled
    * as CTE pairs (assign a_i, means c_i), every float->double cast, fold
    * order, tie-break, and decimal accumulation identical to the Spark
    * plan. `src` is the (vec_id, embedding) relation; CTE names carry
    * `prefix` so multiple unrolls (PQ subspaces) compose in one WITH. */
  private def kmeansCtes(k: Int, iters: Int, src: String = "embeddings",
                         prefix: String = "", kSql: String = ""): String = {
    // kSql (optional) replaces the literal centroid count with a SQL
    // expression — the x03 scaled-k form, where k derives from the corpus
    // size at runtime (DuckDB accepts subqueries in LIMIT).
    val kLimit = if (kSql.nonEmpty) s"($kSql)" else k.toString
    val dist = duckSqDist("e.embedding", "c.c_emb")
    def assign(name: String, cents: String) =
      s"""$name AS (
          SELECT vec_id, cell FROM (
            SELECT e.vec_id, c.cell,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                      ORDER BY $dist ASC, c.cell ASC) AS rn
            FROM $src e, $cents c) WHERE rn = 1)"""
    val init =
      s"""${prefix}c0 AS (
          SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell,
                 [CAST(x AS DOUBLE) for x in embedding] AS c_emb
          FROM (SELECT vec_id, embedding FROM $src ORDER BY vec_id LIMIT $kLimit))"""
    val steps = (1 to iters).map { i =>
      assign(s"${prefix}a$i", s"${prefix}c${i - 1}") + s""",
        ${prefix}c$i AS (
          SELECT cell, list(m ORDER BY dim) AS c_emb FROM (
            SELECT a.cell, x.dim,
                   CAST(SUM(CAST(CAST(x.v AS DOUBLE) AS DECIMAL(27,10))) AS DOUBLE)
                     / COUNT(*) AS m
            FROM ${prefix}a$i a JOIN (SELECT vec_id, unnest(embedding) AS v,
                                    generate_subscripts(embedding, 1) AS dim
                             FROM $src) x ON x.vec_id = a.vec_id
            GROUP BY a.cell, x.dim) GROUP BY cell)"""
    }
    s"""$init,
        ${steps.mkString(",\n")},
        ${assign(s"${prefix}afin", s"${prefix}c$iters")}"""
  }

  private def kmeansOracle(k: Int, iters: Int): String =
    s"WITH ${kmeansCtes(k, iters)}"

  /** e05: final-assignment cell sizes. */
  private def kmeansCellsOracle(k: Int, iters: Int): String =
    s"""${kmeansOracle(k, iters)}
        SELECT cell, COUNT(*) AS n_vectors, MIN(vec_id) AS min_vec_id
        FROM afin GROUP BY cell ORDER BY cell"""

  /** e06: trained-IVF top-k — the knn oracle with the probe restricted to
    * its k-means cell. */
  private def kmeansTopkOracle(k: Int, iters: Int, topK: Int): String =
    s"""${kmeansOracle(k, iters)},
        q AS (SELECT e.vec_id AS query_id, a.cell AS q_cell, e.embedding AS q_emb
              FROM embeddings e JOIN afin a ON a.vec_id = e.vec_id
              WHERE e.vec_id < 10),
        scored AS (
          SELECT q.query_id, e.vec_id AS neighbor_id,
                 ${duckCos("q.q_emb", "e.embedding")} AS score
          FROM q JOIN embeddings e ON e.vec_id <> q.query_id
                 JOIN afin ac ON ac.vec_id = e.vec_id AND ac.cell = q.q_cell),
        ranked AS (SELECT query_id, neighbor_id, score,
                          ROW_NUMBER() OVER (PARTITION BY query_id
                                             ORDER BY score DESC, neighbor_id ASC) AS rank
                   FROM scored)
        SELECT query_id, rank, neighbor_id, score
        FROM ranked WHERE rank <= $topK ORDER BY query_id, rank"""

  /** e11: recall@topK of the trained IVF vs brute force — the e06 unroll's
    * cell-restricted ranking intersected with the unrestricted ranking;
    * membership-only compare, so integer-exact. */
  private def ivfRecallOracle(k: Int, iters: Int, topK: Int): String =
    s"""${kmeansOracle(k, iters)},
        q AS (SELECT e.vec_id AS query_id, a.cell AS q_cell, e.embedding AS q_emb
              FROM embeddings e JOIN afin a ON a.vec_id = e.vec_id
              WHERE e.vec_id < 10),
        iscored AS (
          SELECT q.query_id, e.vec_id AS neighbor_id,
                 ${duckCos("q.q_emb", "e.embedding")} AS score
          FROM q JOIN embeddings e ON e.vec_id <> q.query_id
                 JOIN afin ac ON ac.vec_id = e.vec_id AND ac.cell = q.q_cell),
        ivf AS (SELECT query_id, neighbor_id FROM (
                  SELECT query_id, neighbor_id,
                         ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY score DESC, neighbor_id ASC) AS rank
                  FROM iscored) WHERE rank <= $topK),
        bscored AS (
          SELECT q.query_id, e.vec_id AS neighbor_id,
                 ${duckCos("q.q_emb", "e.embedding")} AS score
          FROM q JOIN embeddings e ON e.vec_id <> q.query_id),
        truth AS (SELECT query_id, neighbor_id FROM (
                    SELECT query_id, neighbor_id,
                           ROW_NUMBER() OVER (PARTITION BY query_id
                             ORDER BY score DESC, neighbor_id ASC) AS rank
                    FROM bscored) WHERE rank <= $topK),
        hits AS (SELECT t.query_id, COUNT(*) AS n_hits
                 FROM truth t JOIN ivf i
                   ON i.query_id = t.query_id AND i.neighbor_id = t.neighbor_id
                 GROUP BY 1)
        SELECT q.query_id, COALESCE(h.n_hits, 0) AS n_hits,
               (COALESCE(h.n_hits, 0) * 1000000) // $topK AS recall_e6
        FROM (SELECT vec_id AS query_id FROM embeddings WHERE vec_id < 10) q
        LEFT JOIN hits h ON h.query_id = q.query_id
        ORDER BY q.query_id"""

  /** d17: SemDeDup keep set — the k-means unroll's final assignment plus
    * the mirrored within-cluster pair/drop rule (higher vec_id of any
    * cosine>=τ same-cell pair is dropped). */
  private def semDedupOracle(k: Int, iters: Int, threshold: Double): String =
    s"""${kmeansOracle(k, iters)},
        drops AS (
          SELECT DISTINCT b.vec_id
          FROM embeddings a
          JOIN afin ca ON ca.vec_id = a.vec_id
          JOIN embeddings b ON b.vec_id > a.vec_id
          JOIN afin cb ON cb.vec_id = b.vec_id AND cb.cell = ca.cell
          WHERE ${duckCos("a.embedding", "b.embedding")} >= $threshold)
        SELECT e.vec_id, ca.cell
        FROM embeddings e JOIN afin ca ON ca.vec_id = e.vec_id
        WHERE e.vec_id NOT IN (SELECT vec_id FROM drops)
        ORDER BY e.vec_id"""

  /** e08: product quantization — m per-subspace k-means unrolls (sliced
    * source CTEs), ADC = left-to-right sum of per-subspace squared
    * distances from the full-precision query slice to the coded
    * sub-centroid. */
  private def pqCtes(m: Int, subDim: Int, k: Int, iters: Int,
                     cellFilter: String = ""): String = {
    val srcs = (0 until m).map { s =>
      s"src$s AS (SELECT vec_id, embedding[${s * subDim + 1}:${(s + 1) * subDim}] " +
        s"AS embedding FROM embeddings)"
    }
    val kms = (0 until m).map(s => kmeansCtes(k, iters, s"src$s", s"s${s}_"))
    val adc = (0 until m).map { s =>
      duckSqDist(s"q.q_emb[${s * subDim + 1}:${(s + 1) * subDim}]", s"cs$s.c_emb")
    }.mkString(" + ")
    val codeJoins = (0 until m).map { s =>
      s"JOIN s${s}_afin av$s ON av$s.vec_id = v.vec_id " +
        s"JOIN s${s}_c$iters cs$s ON cs$s.cell = av$s.cell"
    }.mkString("\n           ")
    s"""${srcs.mkString(",\n")},
        ${kms.mkString(",\n")},
        q AS (SELECT vec_id AS query_id, label AS q_label,
                embedding AS q_emb
              FROM embeddings WHERE vec_id < 10),
        scored AS (
          SELECT q.query_id, v.vec_id AS neighbor_id, ROUND($adc, 6) AS dist
          FROM q JOIN embeddings v ON v.vec_id <> q.query_id $cellFilter
           $codeJoins),
        ranked AS (SELECT query_id, neighbor_id, dist,
                          ROW_NUMBER() OVER (PARTITION BY query_id
                                             ORDER BY dist ASC, neighbor_id ASC) AS rank
                   FROM scored)"""
  }

  private def pqOracle(m: Int, subDim: Int, k: Int, iters: Int, topK: Int): String =
    s"""WITH ${pqCtes(m, subDim, k, iters)}
        SELECT query_id, rank, neighbor_id, dist
        FROM ranked WHERE rank <= $topK ORDER BY query_id, rank"""

  /** e16/e21: PQ-ADC recall@k vs exact-L2 truth (cellFilter restricts the
    * approximate side to the query's coarse cell for the IVF-PQ form —
    * the truth side always ranks the FULL corpus, which is what makes the
    * measurement honest about cells that exclude true neighbors). */
  private def pqRecallOracle(m: Int, subDim: Int, k: Int, iters: Int,
                             topK: Int, cellFilter: String = ""): String =
    s"""WITH ${pqCtes(m, subDim, k, iters, cellFilter)},
        tq AS (SELECT vec_id AS query_id, embedding AS q_emb
               FROM embeddings WHERE vec_id < 10),
        tr AS (SELECT tq.query_id, e.vec_id AS neighbor_id,
                 ${duckSqDist("tq.q_emb", "e.embedding")} AS dd
               FROM tq JOIN embeddings e ON e.vec_id <> tq.query_id),
        tt AS (SELECT query_id, neighbor_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY dd ASC, neighbor_id ASC)
                   AS trk FROM tr),
        rhits AS (SELECT t.query_id, COUNT(*) AS n
                  FROM tt t JOIN ranked a ON a.query_id = t.query_id
                    AND a.neighbor_id = t.neighbor_id
                  WHERE t.trk <= $topK AND a.rank <= $topK GROUP BY 1)
        SELECT qq.vec_id AS query_id,
          CAST(COALESCE(h.n, 0) AS BIGINT) AS n_hits,
          CAST((COALESCE(h.n, 0) * 1000000) // $topK AS BIGINT) AS recall_e6
        FROM embeddings qq LEFT JOIN rhits h ON h.query_id = qq.vec_id
        WHERE qq.vec_id < 10 ORDER BY query_id"""

  /** e09: ADC candidates (top `topR`) re-ranked by exact cosine. */
  private def pqRerankOracle(m: Int, subDim: Int, k: Int, iters: Int,
                             topR: Int, topK: Int): String =
    s"""WITH ${pqCtes(m, subDim, k, iters)},
        cand AS (SELECT query_id, neighbor_id FROM ranked WHERE rank <= $topR),
        ex AS (SELECT c.query_id, c.neighbor_id,
                      ${duckCos("q.q_emb", "e.embedding")} AS score
               FROM cand c JOIN q ON q.query_id = c.query_id
                    JOIN embeddings e ON e.vec_id = c.neighbor_id),
        rr AS (SELECT query_id, neighbor_id, score,
                      ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY score DESC, neighbor_id ASC) AS rank
               FROM ex)
        SELECT query_id, rank, neighbor_id, score
        FROM rr WHERE rank <= $topK ORDER BY query_id, rank"""

  /** e10: multi-probe IVF — the kmeans unroll plus a per-query cell
    * ranking (nprobe nearest centroids) and a cell-restricted scan. */
  private def ivfMultiProbeOracle(k: Int, iters: Int, nprobe: Int,
                                  topK: Int): String =
    s"""${kmeansOracle(k, iters)},
        qp AS (SELECT query_id, cell FROM (
          SELECT q.vec_id AS query_id, c.cell,
                 ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                    ORDER BY ${duckSqDist("q.embedding", "c.c_emb")} ASC,
                                             c.cell ASC) AS pr
          FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10) q,
               c$iters c) WHERE pr <= $nprobe),
        scored AS (
          SELECT qp.query_id, e.vec_id AS neighbor_id,
                 ${duckCos("q.embedding", "e.embedding")} AS score
          FROM qp JOIN embeddings q ON q.vec_id = qp.query_id
               JOIN afin a ON a.cell = qp.cell
               JOIN embeddings e ON e.vec_id = a.vec_id
                    AND e.vec_id <> qp.query_id),
        ranked AS (SELECT query_id, neighbor_id, score,
                          ROW_NUMBER() OVER (PARTITION BY query_id
                                             ORDER BY score DESC, neighbor_id ASC) AS rank
                   FROM scored)
        SELECT query_id, rank, neighbor_id, score
        FROM ranked WHERE rank <= $topK ORDER BY query_id, rank"""

  /** e07: same plane constants inlined as list literals; bucket arithmetic,
    * dot fold order, and the cosine verify mirror the Spark plan exactly. */
  private def hyperplaneLshOracle(dim: Int, numPlanes: Int, threshold: Double): String = {
    val planes = graft.operators.Similarity.hyperplanes(numPlanes, dim)
    val bucket = planes.zipWithIndex.map { case (p, j) =>
      val planeList = p.mkString("[", ",", "]")
      s"(CASE WHEN ${duckDot("embedding", planeList)} > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH b AS MATERIALIZED (
          SELECT vec_id, embedding, CAST($bucket AS BIGINT) AS bucket
          FROM embeddings)
        SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b,
               ${duckCos("a.embedding", "b2.embedding")} AS score
        FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
        WHERE ${duckCos("a.embedding", "b2.embedding")} >= $threshold
        ORDER BY vec_a, vec_b"""
  }

  /** x04's oracle (r10 — previously rows-only "parameterized by runtime
    * counts"): the SCALED plane count is SQL-computable —
    * `GREATEST(8, bit_length((n div 50) - 1))` restates the Scala
    * `max(8, 64 - nlz(n/50 - 1))` exactly — so the oracle bakes the
    * first `maxPlanes` hyperplanes as literals (the PRNG emits planes
    * sequentially, so plane j is identical for every k >= j) and gates
    * bit j only when `j < np`. maxPlanes=16 covers corpora to ~3.2M
    * vectors — far past every tested scale. */
  private def hyperplaneLshScaledOracle(dim: Int, maxPlanes: Int,
                                        threshold: Double): String = {
    val planes = graft.operators.Similarity.hyperplanes(maxPlanes, dim)
    val bucket = planes.zipWithIndex.map { case (p, j) =>
      val pl = p.mkString("[", ",", "]")
      s"""(CASE WHEN $j < (SELECT np FROM np)
             AND ${duckDot("embedding", pl)} > 0
           THEN ${1L << j} ELSE 0 END)"""
    }.mkString(" + ")
    s"""WITH np AS MATERIALIZED (
          SELECT GREATEST(8, CASE WHEN x <= 0 THEN 0
                               ELSE length(bin(x)) END) AS np
          FROM (SELECT (GREATEST(64, (SELECT count(*) FROM embeddings))
                        // 50) - 1 AS x)),
        b AS MATERIALIZED (
          SELECT vec_id, embedding, CAST($bucket AS BIGINT) AS bucket
          FROM embeddings)
        SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b,
               ${duckCos("a.embedding", "b2.embedding")} AS score
        FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
        WHERE ${duckCos("a.embedding", "b2.embedding")} >= $threshold
        ORDER BY vec_a, vec_b"""
  }

  /** x03's oracle (r10 — previously rows-only): the scaled k and the
    * training-sample stride are both SQL-computable from the corpus size
    * (k = max(8, n/1000), stride = max(1, n/20000)), so the k-means
    * unroll trains on the strided sample with a subquery LIMIT for the
    * centroid count, then the final assignment covers ALL vectors and the
    * in-cell cosine dedup is d17's rule verbatim. */
  private def semDedupScaledOracle(iters: Int, threshold: Double): String = {
    val dist = duckSqDist("e.embedding", "c.c_emb")
    s"""WITH kk AS MATERIALIZED (
          SELECT GREATEST(8, n // 1000) AS k, GREATEST(1, n // 20000) AS stride
          FROM (SELECT count(*) AS n FROM embeddings)),
        smp AS MATERIALIZED (
          SELECT vec_id, embedding FROM embeddings
          WHERE vec_id % (SELECT stride FROM kk) = 0),
        ${kmeansCtes(0, iters, "smp", "", kSql = "SELECT k FROM kk")},
        aall AS (
          SELECT vec_id, cell FROM (
            SELECT e.vec_id, c.cell,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                      ORDER BY $dist ASC, c.cell ASC) AS rn
            FROM embeddings e, c$iters c) WHERE rn = 1),
        drops AS (
          SELECT DISTINCT b.vec_id
          FROM embeddings a
          JOIN aall ca ON ca.vec_id = a.vec_id
          JOIN embeddings b ON b.vec_id > a.vec_id
          JOIN aall cb ON cb.vec_id = b.vec_id AND cb.cell = ca.cell
          WHERE ${duckCos("a.embedding", "b.embedding")} >= $threshold)
        SELECT e.vec_id, ca.cell
        FROM embeddings e JOIN aall ca ON ca.vec_id = e.vec_id
        WHERE e.vec_id NOT IN (SELECT vec_id FROM drops)
        ORDER BY e.vec_id"""
  }

  def oracleSql: Map[String, String] =
    graft.streaming.StreamingGates.oracleSql ++ Map(
    "x03_semdedup_scaledk" -> semDedupScaledOracle(2, 0.35),
    "x04_hyperplane_lsh_scaled" -> hyperplaneLshScaledOracle(64, 16, 0.35),
    "e05_kmeans_ivf_cells" -> kmeansCellsOracle(8, 2),
    "e06_kmeans_ivf_topk" -> kmeansTopkOracle(8, 2, 5),
    "e11_ivf_recall" -> ivfRecallOracle(8, 2, 5),
    "e15_sq8_recall" -> sq8RecallOracle,
    "e16_pq_recall" -> pqRecallOracle(4, 16, 8, 1, 5),
    "e21_ivf_pq_recall" ->
      pqRecallOracle(4, 16, 8, 1, 5, "AND v.label = q.q_label"),
    "e07_hyperplane_lsh_near_dup" -> hyperplaneLshOracle(64, 8, 0.35),
    "d17_semdedup" -> semDedupOracle(8, 2, 0.35),
    "e08_pq_adc_topk" -> pqOracle(4, 16, 8, 1, 5),

    // e20: the same unrolled PQ training, with the candidate join
    // restricted to the query's coarse cell (label)
    "e20_ivf_pq_topk" ->
      s"""WITH ${pqCtes(4, 16, 8, 1, "AND v.label = q.q_label")}
        SELECT query_id, rank, neighbor_id, dist
        FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""",
    // build/serve split is invisible: the persisted-index path shares e08's
    // oracle verbatim
    "e12_pq_index_search" -> pqOracle(4, 16, 8, 1, 5),
    "e09_pq_rerank" -> pqRerankOracle(4, 16, 8, 1, 20, 5),
    "e10_ivf_multiprobe" -> ivfMultiProbeOracle(8, 2, 2, 5),

    "d20_chunking" ->
      """WITH d AS (
           SELECT doc_id, [x for x in string_split(text, ' ') if length(x) > 0] AS toks
           FROM documents),
         s AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n,
                 unnest(range(0, CAST(len(toks) AS BIGINT), 48)) AS tok_start
               FROM d WHERE len(toks) > 0)
         SELECT doc_id, tok_start // 48 AS chunk_idx, tok_start,
           LEAST(64, n - tok_start) AS chunk_len,
           md5(array_to_string(toks[tok_start + 1 : tok_start + 64], ' ')) AS chunk_md5
         FROM s ORDER BY doc_id, chunk_idx""",

    "d21_oov_rate" ->
      """WITH toks AS (
           SELECT doc_id, unnest([x for x in string_split(text, ' ') if length(x) > 0]) AS term
           FROM documents),
         vocab AS (SELECT term FROM (SELECT term, COUNT(*) AS tf FROM toks
                   GROUP BY 1 ORDER BY tf DESC, term ASC LIMIT 100)),
         j AS (SELECT t.doc_id, CASE WHEN v.term IS NULL THEN 1 ELSE 0 END AS oov
               FROM toks t LEFT JOIN vocab v ON v.term = t.term)
         SELECT doc_id, COUNT(*) AS n_tokens, CAST(SUM(oov) AS BIGINT) AS n_oov,
           (CAST(SUM(oov) AS BIGINT) * 1000000) // COUNT(*) AS oov_frac_e6
         FROM j GROUP BY doc_id ORDER BY doc_id""",

    "d22_sequence_pack" ->
      """WITH d AS (
           SELECT doc_id,
             CAST(len([x for x in string_split(text, ' ') if length(x) > 0]) AS BIGINT) AS n_tokens,
             doc_id % 16 AS shard
           FROM documents),
         c AS (SELECT *, SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM d)
         SELECT doc_id, shard, n_tokens,
           CAST((cum - n_tokens) // 512 AS BIGINT) AS pack_id,
           CAST((cum - n_tokens) % 512 AS BIGINT) AS pack_offset
         FROM c ORDER BY doc_id""",

    "d18_keyterms" ->
      """WITH toks AS (
           SELECT doc_id,
                  unnest([x for x in string_split(text, ' ') if length(x) > 0]) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
         df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
         r AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
                 ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                                    ORDER BY tf.tf DESC, df.df ASC, tf.term ASC) AS rn
               FROM tf JOIN df USING (term))
         SELECT doc_id, term, tf, df FROM r WHERE rn = 1 ORDER BY doc_id""",

    "d19_corpus_stats" ->
      """WITH d AS (SELECT lang, CAST(length(text) AS BIGINT) AS n_chars FROM documents),
         h AS (SELECT lang, n_chars, COUNT(*) AS c FROM d GROUP BY 1, 2),
         r AS (SELECT lang, n_chars, c,
                 SUM(c) OVER (PARTITION BY lang ORDER BY n_chars
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                 SUM(c) OVER (PARTITION BY lang) AS n
               FROM h)
         SELECT lang, CAST(SUM(c) AS BIGINT) AS n_docs,
           CAST(SUM(c * n_chars) AS BIGINT) AS total_chars,
           MIN(CASE WHEN cum >= (n*50 + 99) // 100 THEN n_chars END) AS p50_chars,
           MIN(CASE WHEN cum >= (n*90 + 99) // 100 THEN n_chars END) AS p90_chars,
           MIN(CASE WHEN cum >= (n*99 + 99) // 100 THEN n_chars END) AS p99_chars
         FROM r GROUP BY lang ORDER BY lang""",
    "q01_agg_pushdown" ->
      """SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(27,4))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,4))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,4))) AS DOUBLE) AS sum_disc_price,
           COUNT(*) AS count_order,
           CAST(SUM(CAST(l_quantity AS DECIMAL(27,4))) AS DOUBLE) / COUNT(*) AS avg_qty
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-01'
         GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",

    "q02_string_funcs" ->
      """SELECT p_partkey, trim(p_name) AS name_trim,
           regexp_replace(trim(p_name), '\s+', ' ', 'g') AS name_norm,
           lower(regexp_replace(trim(p_type), '\s+', ' ', 'g')) AS type_key
         FROM part ORDER BY p_partkey""",

    "q04_parse_utc_timestamp" ->
      """SELECT o_orderkey,
           CAST(epoch(timezone('Europe/London',
             strptime(strftime(o_orderdate, '%Y-%m-%d') || ' 12:00:00',
                      '%Y-%m-%d %H:%M:%S'))) AS BIGINT) AS utc_epoch
         FROM orders ORDER BY o_orderkey""",

    "q06_cast_ts_date" ->
      """SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS ship_date
         FROM lineitem WHERE l_shipdate >= DATE '1995-01-01'
         ORDER BY l_orderkey, l_linenumber""",

    "q07_char_flag_case" ->
      """SELECT l_orderkey, l_linenumber,
           CASE WHEN l_returnflag = 'Y' THEN TRUE ELSE FALSE END AS is_returned
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",

    "q08_substring_neg" ->
      """SELECT p_partkey, substring(p_name, 1, 10) AS prefix10,
           substring(p_name, -8, 8) AS last8
         FROM part WHERE length(p_name) >= 8 ORDER BY p_partkey""",

    "q09_year_expand" ->
      """SELECT o_orderkey,
           CASE WHEN substring(CAST(CAST(o_orderdate AS DATE) AS VARCHAR), 3, 2) LIKE '9%'
                THEN '19' || substring(CAST(CAST(o_orderdate AS DATE) AS VARCHAR), 3, 2)
                ELSE '20' || substring(CAST(CAST(o_orderdate AS DATE) AS VARCHAR), 3, 2)
           END AS year4
         FROM orders ORDER BY o_orderkey""",

    "q12_join_multi" ->
      """SELECT r_name, n_name, COUNT(*) AS cnt,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,4))) AS DOUBLE) AS revenue,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,4))) AS DOUBLE) / COUNT(*) AS avg_revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         LEFT JOIN supplier ON l_suppkey = s_suppkey
         WHERE l_quantity > 5
         GROUP BY r_name, n_name ORDER BY r_name, n_name""",

    "q13_filter_in" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
         WHERE o_orderstatus IN ('O','F') AND o_totalprice IS NOT NULL
           AND o_custkey < o_orderkey AND o_orderdate >= TIMESTAMP '1995-01-01'
         ORDER BY o_orderkey""",

    "q14_eav_pivot" ->
      """SELECT user_id,
           MIN(CASE WHEN event_type = 'click' THEN value END) AS click_min,
           MIN(CASE WHEN event_type = 'view' THEN value END) AS view_min,
           MIN(CASE WHEN event_type = 'purchase' THEN value END) AS purchase_min
         FROM events GROUP BY user_id
         HAVING click_min IS NOT NULL AND view_min IS NOT NULL
         ORDER BY user_id""",

    "q16_parent_child_join" ->
      """SELECT o_orderkey, l_linenumber, o_orderstatus, l_quantity
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         ORDER BY o_orderkey, l_linenumber""",

    "q17_groupby_dedup" ->
      """SELECT DISTINCT l_returnflag, l_linestatus, CAST(l_shipdate AS DATE) AS ship_date
         FROM lineitem ORDER BY l_returnflag, l_linestatus, ship_date""",

    "q18_any_value_dedup" ->
      """SELECT lower(regexp_replace(trim(p_type), '\s+', ' ', 'g')) AS type_key,
           MIN(p_brand) AS any_brand, COUNT(*) AS cnt
         FROM part GROUP BY 1 ORDER BY type_key""",

    "q19_union_pad" ->
      """SELECT name, acctbal, mktsegment FROM (
           SELECT c_name AS name, c_acctbal AS acctbal, c_mktsegment AS mktsegment FROM customer
           UNION
           SELECT s_name, s_acctbal, CAST(NULL AS VARCHAR) FROM supplier)
         ORDER BY name, acctbal""",

    "q20_interval_join" ->
      """WITH periods AS (
           SELECT DISTINCT CAST(date_trunc('quarter', o_orderdate) AS DATE) AS q_start
           FROM orders),
         p2 AS (SELECT q_start, q_start + INTERVAL 3 MONTH AS q_end FROM periods)
         SELECT q_start, COUNT(*) AS cnt
         FROM (SELECT CAST(l_shipdate AS DATE) AS ship_date FROM lineitem) li
         JOIN p2 ON li.ship_date >= p2.q_start AND li.ship_date < p2.q_end
         GROUP BY q_start ORDER BY q_start""",

    "q21_scalar_subquery" ->
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date FROM orders
         WHERE o_orderdate > (SELECT MAX(o_orderdate) - INTERVAL 90 DAY FROM orders)
         ORDER BY o_orderkey""",

    "q23_interval_arith" ->
      """SELECT o_orderkey,
           CAST(epoch(o_orderdate) AS BIGINT)
             + (CAST(FLOOR(o_totalprice) AS BIGINT) % 120) * 60 AS deadline_epoch
         FROM orders ORDER BY o_orderkey""",

    "q24_window_lag" ->
      """WITH w AS (
           SELECT o_orderkey, o_orderdate,
                  LAG(o_orderdate, 1) OVER (PARTITION BY o_custkey
                                            ORDER BY o_orderdate, o_orderkey) AS prev_date
           FROM orders)
         SELECT o_orderkey,
           CASE WHEN prev_date IS NULL THEN NULL
                ELSE CAST(FLOOR((epoch(o_orderdate) - epoch(prev_date)) / 60) AS BIGINT)
           END AS mins_since_prev
         FROM w ORDER BY o_orderkey""",

    "q25_join_normalized_key" ->
      """WITH mapping AS (
           SELECT lower(regexp_replace(trim(p_type), '\s+', ' ', 'g')) AS type_key,
                  MIN(p_brand) AS category_brand
           FROM part GROUP BY 1)
         SELECT p_partkey, type_key, category_brand
         FROM part LEFT JOIN mapping
           ON lower(regexp_replace(trim(p_type), '\s+', ' ', 'g')) = mapping.type_key
         ORDER BY p_partkey""",

    "q26_orderby_limit" ->
      """SELECT CAST(l_shipdate AS DATE) AS ship_date, l_orderkey, l_linenumber
         FROM lineitem ORDER BY ship_date, l_orderkey, l_linenumber LIMIT 100""",

    "q27_distinct_filter" ->
      """SELECT DISTINCT o_orderpriority FROM orders WHERE o_orderstatus = 'O'
         ORDER BY o_orderpriority""",

    "s02_watermark_filter" ->
      """SELECT CAST(l_shipdate AS DATE) AS ship_date, COUNT(*) AS cnt
         FROM lineitem WHERE l_shipdate > TIMESTAMP '2000-06-30'
         GROUP BY 1 ORDER BY ship_date""",

    "s06_semi_join_extract" ->
      """SELECT l_orderkey, l_linenumber FROM lineitem
         WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
         ORDER BY l_orderkey, l_linenumber""",

    "s09_state_max_scan" ->
      """SELECT CAST(MAX(o_orderdate) AS DATE) AS wm_date,
           CAST(MAX(epoch(o_orderdate)) AS BIGINT) AS wm_epoch, COUNT(*) AS cnt
         FROM orders WHERE o_orderstatus = 'O'""",

    "ev01_sessionize" ->
      """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
         lagged AS (
           SELECT user_id, ts_us,
                  LAG(ts_us, 1) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_us
           FROM ev),
         flagged AS (
           SELECT user_id, ts_us,
                  CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_sess
           FROM lagged),
         sess AS (
           SELECT user_id,
                  SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us
                                      ROWS UNBOUNDED PRECEDING) AS sess_id
           FROM flagged)
         SELECT user_id, CAST(MAX(sess_id) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
         FROM sess GROUP BY user_id ORDER BY user_id""",

    "ev02_json_props" ->
      """SELECT event_id, CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS INTEGER) AS k_val
         FROM events ORDER BY event_id""",

    "q28_collect_list" ->
      """SELECT o_custkey,
           array_to_string(list_sort(list(o_orderkey)), ',') AS order_keys,
           COUNT(*) AS cnt
         FROM orders GROUP BY o_custkey ORDER BY o_custkey""",

    "l01_append" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           CAST(o_orderdate AS DATE) AS order_date
         FROM orders ORDER BY o_orderkey""",

    "l02_merge_upsert" ->
      """WITH target AS (SELECT * FROM orders WHERE o_orderkey % 7 <> 0),
           src AS (SELECT o_orderkey, o_orderstatus, o_totalprice * 2 AS o_totalprice
                   FROM orders WHERE o_orderkey % 3 = 0)
         SELECT COALESCE(s.o_orderkey, t.o_orderkey) AS o_orderkey,
           CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice ELSE t.o_totalprice END AS o_totalprice,
           CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus ELSE t.o_orderstatus END AS o_orderstatus
         FROM target t FULL OUTER JOIN src s ON t.o_orderkey = s.o_orderkey
         ORDER BY o_orderkey""",

    "l03_replace_chunks" ->
      """SELECT o_orderkey, o_orderstatus FROM orders
         WHERE o_orderstatus IN ('O', 'F') ORDER BY o_orderkey""",

    "l05_partition_prune" ->
      """SELECT CAST(month(l_shipdate) AS INTEGER) AS ship_month, COUNT(*) AS cnt
         FROM lineitem WHERE year(l_shipdate) = 2000
         GROUP BY 1 ORDER BY ship_month""",

    // l10: WAP protocol — final table = base (%4=0) + published stage
    // (%4=1) + interleaved commit (%4=3); the discarded stage's %4=2 rows
    // never land. Check rows restate the protocol: pre-publish readers see
    // only the base, the audit read sees base+delta, the moved-base
    // publish refuses (1), the discard removes the stage (1).
    "l10_wap_publish" ->
      """WITH fin AS (
           SELECT 'k:' || CAST(o_orderkey AS VARCHAR) AS rk,
                  o_orderstatus AS status,
                  CAST(o_orderkey AS BIGINT) AS val
           FROM orders WHERE o_orderkey % 4 IN (0, 1, 3)),
         checks AS (
           SELECT 'check:staged_invisible_rows' AS rk, 'check' AS status,
                  (SELECT COUNT(*) FROM orders WHERE o_orderkey % 4 = 0) AS val
           UNION ALL
           SELECT 'check:audit_rows', 'check',
                  (SELECT COUNT(*) FROM orders WHERE o_orderkey % 4 IN (0, 1))
           UNION ALL
           SELECT 'check:publish_refused', 'check', CAST(1 AS BIGINT)
           UNION ALL
           SELECT 'check:stage2_discarded', 'check', CAST(1 AS BIGINT))
         SELECT rk, status, val FROM fin
         UNION ALL SELECT rk, status, val FROM checks
         ORDER BY rk""",

    "r03_incremental_ingest" ->
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date
         FROM orders ORDER BY o_orderkey""",

    "sql01_catalog_agg" ->
      """SELECT o_orderstatus, COUNT(*) AS cnt,
           MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price
         FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01'
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "sql02_catalog_join" ->
      """SELECT c.c_mktsegment, COUNT(*) AS cnt, MAX(o.o_totalprice) AS max_price
         FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
         WHERE c.c_acctbal > 0
         GROUP BY c.c_mktsegment ORDER BY c_mktsegment""",

    "sql08_catalog_window" ->
      """SELECT o_orderstatus, rk, o_orderkey, o_totalprice FROM (
           SELECT o_orderstatus, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                ORDER BY o_totalprice DESC, o_orderkey) AS rk
           FROM orders)
         WHERE rk <= 3 ORDER BY o_orderstatus, rk""",

    "q30_moving_window" ->
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
           COUNT(*) OVER w AS cnt_1h,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) OVER w AS DOUBLE) AS sum_1h
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
         ORDER BY event_id""",

    "sql03_sql_insert" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
         WHERE o_orderkey % 4 IN (0, 1) ORDER BY o_orderkey""",

    "sql05_delete" ->
      """SELECT o_orderkey, o_orderstatus FROM orders
         WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 2 = 0)
         ORDER BY o_orderkey""",

    "sql06_update" ->
      """SELECT o_orderkey,
           CASE WHEN o_orderstatus = 'O' THEN o_totalprice * 2
                ELSE o_totalprice END AS o_totalprice,
           CASE WHEN o_orderstatus = 'O' THEN 'RUSH'
                ELSE o_orderpriority END AS o_orderpriority
         FROM orders ORDER BY o_orderkey""",

    "k01_salted_skew_join" ->
      """SELECT o.o_orderkey, o.o_custkey AS c_custkey, o.o_totalprice,
           c.c_mktsegment
         FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
         ORDER BY o.o_orderkey""",

    "sql04_merge_into" ->
      """WITH target AS (SELECT * FROM orders WHERE o_orderkey % 7 <> 0),
           src AS (SELECT o_orderkey, o_orderstatus, o_totalprice * 2 AS o_totalprice
                   FROM orders WHERE o_orderkey % 3 = 0)
         SELECT COALESCE(s.o_orderkey, t.o_orderkey) AS o_orderkey,
           CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice ELSE t.o_totalprice END AS o_totalprice,
           CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus ELSE t.o_orderstatus END AS o_orderstatus
         FROM target t FULL OUTER JOIN src s ON t.o_orderkey = s.o_orderkey
         ORDER BY o_orderkey""",

    "sql07_merge_conditional" ->
      """WITH target AS (SELECT o_orderkey, o_orderstatus, o_totalprice
                         FROM orders WHERE o_orderkey % 7 <> 0),
           src AS (SELECT o_orderkey, o_orderstatus, o_totalprice
                   FROM orders WHERE o_orderkey % 3 = 0)
         SELECT o_orderkey, o_orderstatus, o_totalprice FROM (
           SELECT
             COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
             CASE WHEN t.o_orderkey IS NULL THEN s.o_orderstatus
                  ELSE t.o_orderstatus END AS o_orderstatus,
             CASE
               WHEN t.o_orderkey IS NOT NULL AND s.o_orderkey IS NOT NULL
                 THEN t.o_totalprice + s.o_totalprice
               WHEN t.o_orderkey IS NULL THEN NULL
               WHEN t.o_orderkey % 5 = 0 THEN t.o_totalprice * 2
               ELSE t.o_totalprice END AS o_totalprice,
             t.o_orderkey IS NOT NULL AND s.o_orderkey IS NOT NULL
               AND s.o_orderstatus = 'F' AS is_del,
             t.o_orderkey IS NULL AND s.o_totalprice <= 1000 AS no_insert
           FROM target t FULL OUTER JOIN src s ON t.o_orderkey = s.o_orderkey)
         WHERE NOT is_del AND NOT no_insert
         ORDER BY o_orderkey""",

    "l06_evolve_schema" ->
      """SELECT o_orderkey, o_orderstatus, CAST(NULL AS DOUBLE) AS o_totalprice
         FROM orders WHERE o_orderkey % 2 = 0
         UNION ALL
         SELECT o_orderkey, o_orderstatus, o_totalprice
         FROM orders WHERE o_orderkey % 2 = 1
         ORDER BY o_orderkey""",

    "z01_zorder_rewrite" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
         FROM orders ORDER BY o_orderkey""",

    "d01_exact_dedup" ->
      """SELECT md5(text) AS content_md5, MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
         FROM documents GROUP BY 1 ORDER BY keep_id""",

    "d02_minhash_lsh" -> minhashOracle,
    "d44_lsh_estimate" -> lshEstimateOracle,
    "x01_lsh_skew_capped" -> skewMinhashOracle(5),
    "x02_lsh_skew_atcap" -> skewMinhashOracle(10),

    "d03_simhash" -> simhashOracle,

    "d11_corpus_clean" -> corpusCleanOracle,
    "d45_curation_pipeline" -> curationPipelineOracle,
    // d51 is d45 with lake-table stage boundaries — semantics identical
    // by design, so it answers to the same oracle (the equivalence of the
    // two stage-cut mechanisms is exactly what the shared oracle pins).
    "d51_curation_lake" -> curationPipelineOracle,
    "d52_bpe_train_encode" -> bpeEncodeOracle(16),
    "d53_bpe_merge_table" -> bpeMergesOracle(16),
    "d23_incremental_dedup" -> incrementalDedupOracle,
    "d30_lsh_index_probe" -> lshIndexProbeOracle,
    // t07 (StreamingGates): the streaming admission gate drains one
    // AvailableNow batch through the resident-index probe — same asymmetric
    // band join as d30, same oracle.
    "t07_stream_dedup_gate" -> lshIndexProbeOracle,
    "d24_clean_report" -> cleanReportOracle,
    "d25_dataset_split" ->
      s"""WITH b AS (
           SELECT doc_id,
                  CAST(${duckHash("CAST(doc_id AS VARCHAR)")} % 100 AS BIGINT) AS bucket
           FROM documents)
         SELECT doc_id, bucket,
           CASE WHEN bucket < 90 THEN 'train'
                WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
         FROM b ORDER BY doc_id""",

    "k05_shard_export" ->
      s"""WITH b AS (
           SELECT doc_id,
                  CAST(${duckHash("CAST(doc_id AS VARCHAR)")} % 8 AS BIGINT) AS shard
           FROM documents)
         SELECT doc_id, shard,
           ROW_NUMBER() OVER (PARTITION BY shard
             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS pos
         FROM b ORDER BY shard, pos""",

    "d13_vocab" ->
      """WITH toks AS (
           SELECT doc_id, unnest([x for x in string_split(text, ' ')
                                  if length(x) > 0]) AS token
           FROM documents)
         SELECT token, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
         FROM toks GROUP BY 1 ORDER BY tf DESC, token LIMIT 100""",

    "k02_group_sample" ->
      """SELECT lang, source, doc_id, rk FROM (
           SELECT lang, source, doc_id,
             ROW_NUMBER() OVER (PARTITION BY lang, source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
           FROM documents) WHERE rk <= 3 ORDER BY lang, source, rk""",

    "d12_repetition" ->
      """WITH toks AS (
           SELECT doc_id, [x for x in string_split(text, ' ') if length(x) > 0] AS w
           FROM documents),
         base AS (
           SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
             [w[i] || ' ' || w[i+1] for i in range(1, len(w))] AS grams
           FROM toks),
         gcnt AS (
           SELECT doc_id, g, COUNT(*) AS c
           FROM (SELECT doc_id, unnest(grams) AS g FROM base) GROUP BY 1, 2),
         top AS (SELECT doc_id, MAX(c) AS top2_cnt FROM gcnt GROUP BY 1)
         SELECT b.doc_id, n_tokens,
           CASE WHEN n_tokens > 0
             THEN ((n_tokens - n_distinct) * 1000000) // n_tokens ELSE 0 END AS dup_word_frac_e6,
           CAST(COALESCE(top2_cnt, 0) AS BIGINT) AS top2_cnt,
           CASE WHEN n_tokens > 1
             THEN (COALESCE(top2_cnt, 0) * 1000000) // (n_tokens - 1) ELSE 0 END AS top2_frac_e6
         FROM base b LEFT JOIN top USING (doc_id) ORDER BY doc_id""",

    "d07_ngram_jaccard" ->
      """WITH toks AS (
           SELECT doc_id, [x for x in string_split(text, ' ') if length(x) > 0] AS w
           FROM documents),
         g AS (
           SELECT doc_id,
                  unnest(list_distinct([w[i] || ' ' || w[i+1]
                                        for i in range(1, len(w))])) AS gram
           FROM toks WHERE len(w) >= 2),
         gc AS (
           SELECT * FROM g
           QUALIFY COUNT(*) OVER (PARTITION BY gram) <= 100),
         sz AS (SELECT doc_id, COUNT(*) AS n FROM gc GROUP BY doc_id),
         i AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
               FROM gc a JOIN gc b ON a.gram = b.gram AND a.doc_id < b.doc_id
               GROUP BY 1, 2),
         v AS (SELECT doc_a, doc_b, i, sa.n + sb.n - i AS u
               FROM i JOIN sz sa ON sa.doc_id = doc_a
                      JOIN sz sb ON sb.doc_id = doc_b)
         SELECT doc_a, doc_b, CAST((i * 1000000) // u AS BIGINT) AS jaccard_e6
         FROM v WHERE i * 2 >= u * 1 ORDER BY doc_a, doc_b""",

    "d04_text_stats" ->
      """WITH base AS (
           SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars2,
             CAST(len([x for x in string_split(text, ' ') if length(x) > 0]) AS BIGINT) AS n_tokens,
             CAST(len([x for x in string_split(text, ' ')
                       if x IN ('the','a','of','and','to','in')]) AS BIGINT) AS n_stopwords,
             CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS BIGINT) AS n_regex_tokens
           FROM documents)
         SELECT doc_id, n_chars2, n_tokens, n_stopwords, n_regex_tokens,
           CAST((n_stopwords * 1000000) // n_tokens AS BIGINT) AS stopword_ratio_e6
         FROM base ORDER BY doc_id""",

    "d05_lang_id" ->
      """SELECT doc_id, lang,
           CASE WHEN len([x for x in string_split(text, ' ')
                          if x IN ('the','a','of','and','to','in')]) * 25
                     >= len([x for x in string_split(text, ' ') if length(x) > 0]) * 3
                THEN 'en' ELSE 'other' END AS lang_pred
         FROM documents ORDER BY doc_id""",

    "d06_fingerprint" ->
      """SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint,
           MIN(doc_id) AS keep_id, COUNT(*) AS cnt
         FROM documents GROUP BY 1 ORDER BY keep_id""",

    "d08_winnow_fingerprints" ->
      s"""WITH h AS MATERIALIZED (
           SELECT doc_id,
                  [${duckHash("g")} for g in
                   [substring(text, i, 3)
                    for i in range(1, greatest(length(text)-2, 0)+1)]] AS hs
           FROM documents),
         fp AS (
           SELECT doc_id,
                  list_sort(list_distinct(
                    [list_min(hs[i:i+7])
                     for i in range(1, greatest(len(hs)-7, 1)+1)])) AS fps
           FROM h WHERE len(hs) > 0)
         SELECT doc_id, CAST(unnest(fps) AS BIGINT) AS fingerprint
         FROM fp ORDER BY doc_id, fingerprint""",

    "d14_decontaminate" -> decontaminateOracle,

    // The Bloom prefilter is lossless (exact verify join downstream), so
    // the oracle is d14's exact-join formulation verbatim.
    "d29_bloom_decontaminate" -> decontaminateOracle,

    // Transitive closure of the LSH pair graph via a recursive CTE, then
    // component id = min reachable doc id — mirrors min-label propagation.
    "d15_dup_clusters" -> dupClustersOracle,

    "d31_dup_clusters_star" -> dupClustersOracle,

    // DSIR: identical integer arithmetic to ImportanceWeights.dsirWeights —
    // HUGEINT keeps the (n_t+1)*(R+B)*scale numerator exact, // floors.
    "d32_dsir_weight" ->
      s"""WITH toks AS (
           SELECT doc_id, doc_id % 11 = 0 AS is_t,
                  unnest([x for x in string_split(text, ' ')
                          if length(x) > 0]) AS token
           FROM documents),
         b AS MATERIALIZED (
           SELECT doc_id, is_t,
                  CAST(${duckHash("token")} % 1024 AS BIGINT) AS bucket
           FROM toks),
         cnt AS (
           SELECT bucket,
                  SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS n_t,
                  SUM(CASE WHEN is_t THEN 0 ELSE 1 END) AS n_r
           FROM b GROUP BY 1),
         tot AS (SELECT SUM(n_t) + 1024 AS tt, SUM(n_r) + 1024 AS rr FROM cnt),
         w AS (
           SELECT bucket,
                  CAST((CAST(n_t + 1 AS HUGEINT) * rr * 1000000)
                       // (CAST(n_r + 1 AS HUGEINT) * tt) AS BIGINT) AS w
           FROM cnt, tot)
         SELECT b.doc_id, CAST(SUM(w.w) AS BIGINT) AS dsir_weight
         FROM b JOIN w USING (bucket) WHERE NOT b.is_t
         GROUP BY 1 ORDER BY doc_id""",

    "d33_bm25_topk" ->
      """WITH toks AS (
           SELECT doc_id,
                  unnest([x for x in string_split(text, ' ')
                          if length(x) > 0]) AS term
           FROM documents),
         dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
         tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
         stats AS (SELECT (SELECT COUNT(*) FROM documents) AS n,
                          COALESCE(SUM(dl), 0) AS t FROM dl),
         q AS (SELECT DISTINCT doc_id AS query_id, term FROM toks
               WHERE doc_id % 101 = 0),
         m AS (SELECT q.query_id, tf.doc_id, tf.term, tf.tf
               FROM tf JOIN q USING (term)),
         df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM m GROUP BY 1),
         sc AS (SELECT m.query_id, m.doc_id,
                  ((1000000 * (2*s.n - 2*df.df + 1)) // (2*df.df + 1)) *
                  ((1000 * 44 * m.tf * s.t)
                   // (20*m.tf*s.t + 6*s.t + 18*dl.dl*s.n)) AS ts
                FROM m JOIN df USING (term)
                JOIN dl ON dl.doc_id = m.doc_id CROSS JOIN stats s),
         agg AS (SELECT query_id, doc_id, SUM(ts) AS score
                 FROM sc GROUP BY 1, 2),
         r AS (SELECT query_id, doc_id, score,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY score DESC, doc_id) AS rk
               FROM agg)
         SELECT query_id, doc_id, CAST(score AS BIGINT) AS score,
                CAST(rk AS BIGINT) AS rk
         FROM r WHERE rk <= 5 ORDER BY query_id, rk""",

    "d36_bpe_encode" ->
      """SELECT d.doc_id,
           CAST((1 + d.doc_id % 5) + (1 + (d.doc_id + 1) % 4)
              + (1 + (d.doc_id + 2) % 3) + (1 + (d.doc_id + 3) % 4)
             AS BIGINT) AS n_words,
           CAST((1 + d.doc_id % 5) + (1 + (d.doc_id + 1) % 4)
              + 2 * (1 + (d.doc_id + 2) % 3) + 2 * (1 + (d.doc_id + 3) % 4)
             AS BIGINT) AS n_bpe_tokens
         FROM documents d ORDER BY doc_id""",

    "d39_suffix_ranks" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents
                    WHERE doc_id % 5 = 0 AND length(text) > 0),
         pos AS (SELECT doc_id, unnest(range(1, len + 1)) AS p, text FROM d),
         s AS (SELECT doc_id, p, substr(text, p) AS suf FROM pos)
         SELECT doc_id, CAST(p AS BIGINT) AS p,
           CAST(DENSE_RANK() OVER (ORDER BY suf) AS BIGINT) AS suffix_rank
         FROM s ORDER BY doc_id, p""",

    "d38_exact_substr" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents),
         pos AS (SELECT doc_id, unnest(range(1, len - 30 + 2)) AS p, text
                 FROM d WHERE len >= 30),
         g AS (SELECT doc_id, p, substr(text, p, 30) AS gram FROM pos),
         occ AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
         dup AS (SELECT doc_id, p FROM g JOIN occ USING (gram)),
         mk AS (SELECT doc_id, p,
                  CASE WHEN p - LAG(p) OVER (PARTITION BY doc_id ORDER BY p)
                         <= 30 THEN 0 ELSE 1 END AS brk
                FROM dup),
         sp AS (SELECT doc_id, p,
                  SUM(brk) OVER (PARTITION BY doc_id ORDER BY p
                                 ROWS UNBOUNDED PRECEDING) AS sid
                FROM mk),
         spans AS (SELECT doc_id, sid, MIN(p) AS s, MAX(p) + 30 AS e,
                     COUNT(*) AS np
                   FROM sp GROUP BY 1, 2),
         agg AS (SELECT doc_id, COUNT(*) AS n_spans, SUM(np) AS ndp,
                   SUM(e - s) AS chars_dup
                 FROM spans GROUP BY 1)
         SELECT d.doc_id,
           CAST(greatest(d.len - 30 + 1, 0) AS BIGINT) AS n_positions,
           CAST(COALESCE(agg.ndp, 0) AS BIGINT) AS n_dup_positions,
           CAST(COALESCE(agg.n_spans, 0) AS BIGINT) AS n_spans,
           CAST(COALESCE(agg.chars_dup, 0) AS BIGINT) AS chars_dup,
           CAST(d.len - COALESCE(agg.chars_dup, 0) AS BIGINT) AS clean_len
         FROM d LEFT JOIN agg USING (doc_id) ORDER BY doc_id""",

    "d50_doc_chunking" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents),
         n AS (SELECT doc_id, text, len,
                 CASE WHEN len = 0 THEN 0
                      ELSE 1 + GREATEST(0, (len - 120 + 40 - 1) // 40) END
                   AS nc
               FROM d),
         c AS (SELECT doc_id, text, len, unnest(range(0, nc)) AS i
               FROM n WHERE nc > 0)
         SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
           CAST(i * 40 + 1 AS BIGINT) AS chunk_start,
           CAST(LEAST(120, len - i * 40) AS BIGINT) AS chunk_len,
           md5(substr(text, CAST(i * 40 + 1 AS INT), 120)) AS chunk_md5
         FROM c ORDER BY doc_id, chunk_id""",

    "d49_nb_multiclass" ->
      """WITH toks AS (
           SELECT doc_id, lang, (doc_id % 3 <> 0) AS train,
                  [x for x in string_split(text, ' ')
                   if length(x) > 0] AS w
           FROM documents),
         occ AS (SELECT doc_id, lang, train, unnest(w) AS w FROM toks),
         tr AS (SELECT * FROM occ WHERE train),
         cnt AS (SELECT w, lang AS cls, COUNT(*) AS c FROM tr GROUP BY 1, 2),
         roster AS (
           SELECT t.cls, t.tc, n.nc
           FROM (SELECT lang AS cls, COUNT(*) AS tc FROM tr GROUP BY 1) t
           JOIN (SELECT lang AS cls, COUNT(*) AS nc FROM toks
                 WHERE train GROUP BY 1) n USING (cls)),
         po AS (SELECT o.doc_id, r.cls,
                  (length(bin(COALESCE(c.c, 0) + 1)) - 1)
                  - (length(bin(r.tc)) - 1) AS b
                FROM occ o CROSS JOIN roster r
                LEFT JOIN cnt c ON c.w = o.w AND c.cls = r.cls),
         pdc AS (SELECT doc_id, cls, COUNT(*) AS nt, SUM(b) AS tb
                 FROM po GROUP BY 1, 2),
         sc AS (SELECT d.doc_id, r.cls, COALESCE(p.nt, 0) AS nt,
                  COALESCE(p.tb, 0) + (length(bin(r.nc)) - 1) AS bits
                FROM documents d CROSS JOIN roster r
                LEFT JOIN pdc p ON p.doc_id = d.doc_id AND p.cls = r.cls),
         best AS (SELECT doc_id, cls, nt, bits,
                    ROW_NUMBER() OVER (PARTITION BY doc_id
                      ORDER BY bits DESC, cls ASC) AS rk
                  FROM sc)
         SELECT doc_id,
           CAST(CASE WHEN doc_id % 3 <> 0 THEN 1 ELSE 0 END AS BIGINT)
             AS is_train,
           CAST(nt AS BIGINT) AS n_tokens, cls AS predicted,
           CAST(bits AS BIGINT) AS best_bits
         FROM best WHERE rk = 1 ORDER BY doc_id""",

    // d48b: the pre-sweep histogram alone (threshold, p, n) — every
    // column CAST to BIGINT so no HUGEINT (the dtype DuckDB's pandas
    // bridge widens to float64) can reach the compare. Localizes any
    // remaining d48 divergence to scoring vs sweep (VERDICT r10 #1).
    "d48b_calibration_hist" ->
      s"""WITH $d48ScoringCtes
         SELECT CAST(s AS BIGINT) AS threshold,
           CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS p,
           CAST(SUM(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS n
         FROM sb GROUP BY 1 ORDER BY threshold""",

    "d48_classifier_calibration" ->
      s"""WITH $d48ScoringCtes,
         h AS (SELECT CAST(s AS BIGINT) AS threshold,
                 CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS p,
                 CAST(SUM(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS n
               FROM sb GROUP BY 1),
         tt2 AS (SELECT CAST(SUM(p) AS BIGINT) AS tot_p,
                        CAST(SUM(n) AS BIGINT) AS tot_n FROM h),
         cw AS (SELECT threshold, p, n,
                  CAST(SUM(p) OVER (ORDER BY threshold DESC
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ctp,
                  CAST(SUM(n) OVER (ORDER BY threshold DESC
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cfp
                FROM h)
         SELECT threshold, ctp + cfp AS n_ge,
           ctp AS tp, cfp AS fp,
           t.tot_p - ctp AS fn,
           t.tot_n - cfp AS tn,
           ctp * 1000000 // (ctp + cfp) AS precision_e6,
           CASE WHEN t.tot_p = 0 THEN 0
                ELSE ctp * 1000000 // t.tot_p END AS recall_e6
         FROM cw CROSS JOIN tt2 t ORDER BY threshold""",

    "d47_exact_substr_cut" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents),
         pos AS (SELECT doc_id, unnest(range(1, len - 30 + 2)) AS p, text
                 FROM d WHERE len >= 30),
         g AS (SELECT doc_id, p, substr(text, p, 30) AS gram FROM pos),
         occ AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
         dup AS (SELECT doc_id, p FROM g JOIN occ USING (gram)),
         mk AS (SELECT doc_id, p,
                  CASE WHEN p - LAG(p) OVER (PARTITION BY doc_id ORDER BY p)
                         <= 30 THEN 0 ELSE 1 END AS brk
                FROM dup),
         sp AS (SELECT doc_id, p,
                  SUM(brk) OVER (PARTITION BY doc_id ORDER BY p
                                 ROWS UNBOUNDED PRECEDING) AS sid
                FROM mk),
         spans AS (SELECT doc_id, sid, MIN(p) AS s, MAX(p) + 30 AS e
                   FROM sp GROUP BY 1, 2),
         segs AS (SELECT doc_id, s, e,
                    COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY s),
                             1) AS pe
                  FROM spans),
         cutp AS (SELECT sg.doc_id,
                    string_agg(substr(d.text, CAST(sg.pe AS INT),
                                      CAST(sg.s - sg.pe AS INT)),
                               '' ORDER BY sg.s) AS head,
                    MAX(sg.e) AS elast
                  FROM segs sg JOIN d USING (doc_id) GROUP BY sg.doc_id),
         clean AS (SELECT d.doc_id,
                     CASE WHEN c.doc_id IS NULL THEN d.text
                          ELSE COALESCE(c.head, '')
                               || substr(d.text, CAST(c.elast AS INT)) END
                       AS ct
                   FROM d LEFT JOIN cutp c USING (doc_id))
         SELECT doc_id, CAST(length(ct) AS BIGINT) AS clean_len,
           md5(ct) AS clean_md5
         FROM clean ORDER BY doc_id""",

    "d37_lm_perplexity" ->
      """WITH toks AS (
           SELECT doc_id, (doc_id % 3 <> 0) AS train,
                  [x for x in string_split(text, ' ')
                   if length(x) > 0] AS w
           FROM documents),
         p2 AS (SELECT doc_id, train, pos, w[pos] AS cur,
                  CASE WHEN pos > 1 THEN w[pos-1] END AS prev
                FROM (SELECT doc_id, train,
                        unnest(range(1, len(w)+1)) AS pos, w FROM toks)),
         tr AS (SELECT * FROM p2 WHERE train),
         tstat AS (SELECT COUNT(*) AS t FROM tr),
         c1 AS (SELECT cur AS w, COUNT(*) AS c FROM tr GROUP BY 1),
         c2 AS (SELECT prev, cur, COUNT(*) AS c FROM tr
                WHERE prev IS NOT NULL GROUP BY 1, 2),
         sc AS (SELECT p.doc_id, p.train,
                  CASE WHEN p.pos = 1 THEN
                    CASE WHEN u.c IS NOT NULL
                         THEN (length(bin(s.t))-1) - (length(bin(u.c))-1)
                         ELSE (length(bin(s.t))-1) + 4 END
                  ELSE
                    CASE WHEN b.c IS NOT NULL
                         THEN (length(bin(up.c))-1) - (length(bin(b.c))-1)
                         WHEN u.c IS NOT NULL
                         THEN 3 + (length(bin(s.t))-1) - (length(bin(u.c))-1)
                         ELSE 3 + (length(bin(s.t))-1) + 4 END
                  END AS bits
                FROM p2 p
                LEFT JOIN c1 u ON u.w = p.cur
                LEFT JOIN c1 up ON up.w = p.prev
                LEFT JOIN c2 b ON b.prev = p.prev AND b.cur = p.cur
                CROSS JOIN tstat s)
         SELECT doc_id,
           CAST(MAX(CASE WHEN train THEN 1 ELSE 0 END) AS BIGINT) AS is_train,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(bits) AS BIGINT) AS bits,
           CAST(SUM(bits) * 1000 // COUNT(*) AS BIGINT) AS bits_per_kilotoken
         FROM sc GROUP BY 1 ORDER BY doc_id""",

    "d40_nb_quality" ->
      """WITH toks AS (
           SELECT doc_id, (doc_id % 3 <> 0) AS train, (lang = 'en') AS pos,
                  [x for x in string_split(text, ' ')
                   if length(x) > 0] AS w
           FROM documents),
         tok AS (SELECT doc_id, train, pos, unnest(w) AS w FROM toks),
         tr AS (SELECT * FROM tok WHERE train),
         cnt AS (SELECT w, SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS cp,
                        SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS cn
                 FROM tr GROUP BY 1),
         tot AS (SELECT SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS tp,
                        SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS tn FROM tr),
         nd AS (SELECT SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS np,
                       SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS nn
                FROM toks WHERE train),
         sc AS (SELECT t.doc_id,
                  (length(bin(COALESCE(c.cp, 0) + 1)) - 1)
                  - (length(bin(COALESCE(c.cn, 0) + 1)) - 1)
                  + (length(bin(tt.tn)) - 1) - (length(bin(tt.tp)) - 1) AS b
                FROM tok t LEFT JOIN cnt c USING (w) CROSS JOIN tot tt),
         agg AS (SELECT doc_id, COUNT(*) AS nt, SUM(b) AS tb
                 FROM sc GROUP BY 1)
         SELECT d.doc_id,
           CAST(CASE WHEN d.doc_id % 3 <> 0 THEN 1 ELSE 0 END AS BIGINT)
             AS is_train,
           CAST(COALESCE(a.nt, 0) AS BIGINT) AS n_tokens,
           CAST((length(bin(n.np)) - 1) - (length(bin(n.nn)) - 1)
                + COALESCE(a.tb, 0) AS BIGINT) AS score_bits,
           CAST(CASE WHEN (length(bin(n.np)) - 1) - (length(bin(n.nn)) - 1)
                          + COALESCE(a.tb, 0) > 0
                     THEN 1 ELSE 0 END AS BIGINT) AS predicted
         FROM documents d LEFT JOIN agg a USING (doc_id) CROSS JOIN nd n
         ORDER BY doc_id""",

    "d41_token_budget" ->
      """WITH toks AS (
           SELECT doc_id, [x for x in string_split(text, ' ')
                           if length(x) > 0] AS w
           FROM documents),
         d AS (SELECT doc_id,
                 CASE WHEN len(w) = 0 THEN 0
                      ELSE COALESCE(list_sum([length(x) for x in w]), 0)
                           * 100 // len(w) END AS score,
                 len(w) AS n_tokens
               FROM toks),
         b AS (SELECT SUM(n_tokens) * 3 // 10 AS budget FROM d),
         c AS (SELECT d.*, SUM(n_tokens) OVER (ORDER BY score DESC, doc_id)
                 AS cum FROM d)
         SELECT doc_id, CAST(score AS BIGINT) AS score,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(CASE WHEN c.cum <= b.budget THEN 1 ELSE 0 END AS BIGINT)
             AS selected
         FROM c CROSS JOIN b ORDER BY doc_id""",

    "d42_host_pagerank" ->
      """WITH e0 AS (
           SELECT doc_id % 1000 AS src, (doc_id * 7 + 1) % 1000 AS dst
           FROM documents
           UNION
           SELECT doc_id % 1000, (doc_id * 13 + 2) % 1000 FROM documents),
         e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
         deg AS (SELECT src, COUNT(*) AS od FROM e GROUP BY 1),
         n AS (SELECT DISTINCT node FROM
                (SELECT src AS node FROM e UNION SELECT dst FROM e)),
         r0 AS (SELECT node, 1000000 AS r FROM n),
         s1 AS (SELECT e.dst AS node, SUM(r0.r // d.od) AS m
                FROM e JOIN r0 ON r0.node = e.src
                JOIN deg d ON d.src = e.src GROUP BY 1),
         r1 AS (SELECT n.node, (3000000 + 17 * COALESCE(s1.m, 0)) // 20 AS r
                FROM n LEFT JOIN s1 USING (node)),
         s2 AS (SELECT e.dst AS node, SUM(r1.r // d.od) AS m
                FROM e JOIN r1 ON r1.node = e.src
                JOIN deg d ON d.src = e.src GROUP BY 1),
         r2 AS (SELECT n.node, (3000000 + 17 * COALESCE(s2.m, 0)) // 20 AS r
                FROM n LEFT JOIN s2 USING (node)),
         s3 AS (SELECT e.dst AS node, SUM(r2.r // d.od) AS m
                FROM e JOIN r2 ON r2.node = e.src
                JOIN deg d ON d.src = e.src GROUP BY 1),
         r3 AS (SELECT n.node, (3000000 + 17 * COALESCE(s3.m, 0)) // 20 AS r
                FROM n LEFT JOIN s3 USING (node))
         SELECT n.node AS host,
           CAST(COALESCE(deg.od, 0) AS BIGINT) AS out_deg,
           CAST(r1.r AS BIGINT) AS rank_1,
           CAST(r2.r AS BIGINT) AS rank_2,
           CAST(r3.r AS BIGINT) AS rank_3
         FROM n LEFT JOIN deg ON deg.src = n.node
         JOIN r1 ON r1.node = n.node
         JOIN r2 ON r2.node = n.node
         JOIN r3 ON r3.node = n.node
         ORDER BY host""",

    "x06_host_budget_skew" ->
      """WITH toks AS (
           SELECT doc_id, 'h' || (doc_id % 50) AS host,
                  [x for x in string_split(text, ' ')
                   if length(x) > 0] AS w
           FROM documents),
         d AS (SELECT doc_id, host,
                 CASE WHEN doc_id % 50 = 0 THEN 500
                      WHEN len(w) = 0 THEN 0
                      ELSE COALESCE(list_sum([length(x) for x in w]), 0)
                           * 100 // len(w) END AS score,
                 len(w) AS n_tokens
               FROM toks),
         c AS (SELECT d.*, SUM(n_tokens) OVER (PARTITION BY host
                 ORDER BY score DESC, doc_id) AS cum FROM d)
         SELECT doc_id, host, CAST(score AS BIGINT) AS score,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(CASE WHEN cum <= 400 THEN 1 ELSE 0 END AS BIGINT)
             AS selected
         FROM c ORDER BY doc_id""",

    "t12_stream_sequence_pack" ->
      """WITH a AS (
           SELECT doc_id,
             len([x for x in string_split(text, ' ')
                  if length(x) > 0]) AS n,
             CASE WHEN doc_id % 3 <> 0 THEN 0 ELSE 1 END AS wv
           FROM documents WHERE doc_id % 10 = 0),
         c AS (SELECT doc_id, n, wv,
                 COALESCE(SUM(n) OVER (ORDER BY wv, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS s
               FROM a)
         SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
           CAST(s AS BIGINT) AS start_offset,
           CAST(s // 512 AS BIGINT) AS first_seq,
           CAST((s + GREATEST(n, 1) - 1) // 512 AS BIGINT) AS last_seq,
           CAST(CASE WHEN n = 0 THEN 0
                ELSE (s + n - 1) // 512 - s // 512 + 1 END AS BIGINT)
             AS n_seqs
         FROM c ORDER BY doc_id""",

    "d46_sequence_pack" ->
      """WITH toks AS (
           SELECT doc_id, len([x for x in string_split(text, ' ')
                               if length(x) > 0]) AS n
           FROM documents),
         c AS (SELECT doc_id, n,
                 COALESCE(SUM(n) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS s
               FROM toks)
         SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
           CAST(s AS BIGINT) AS start_offset,
           CAST(s // 512 AS BIGINT) AS first_seq,
           CAST((s + GREATEST(n, 1) - 1) // 512 AS BIGINT) AS last_seq,
           CAST(CASE WHEN n = 0 THEN 0
                ELSE (s + n - 1) // 512 - s // 512 + 1 END AS BIGINT)
             AS n_seqs
         FROM c ORDER BY doc_id""",

    // k11: the naive global-window restatement of the masked packing
    "k11_sft_pack_masks" ->
      """WITH p AS (SELECT doc_id AS pair_id,
             5 + doc_id % 40 AS np,
             CASE WHEN doc_id % 19 = 0 THEN 0
                  ELSE 1 + doc_id % 60 END AS nc
           FROM documents),
         o AS (SELECT pair_id, np, nc,
                 COALESCE(SUM(np + nc) OVER (ORDER BY pair_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS s
               FROM p)
         SELECT pair_id, CAST(np AS BIGINT) AS n_prompt,
           CAST(nc AS BIGINT) AS n_completion,
           CAST(s AS BIGINT) AS start_offset,
           CAST(s + np AS BIGINT) AS loss_start,
           CAST(s + np + nc AS BIGINT) AS loss_end,
           CAST(s // 256 AS BIGINT) AS first_seq,
           CAST((s + GREATEST(np + nc, 1) - 1) // 256 AS BIGINT) AS last_seq,
           CASE WHEN nc > 0 THEN CAST((s + np) // 256 AS BIGINT) END
             AS mask_first_seq,
           CASE WHEN nc > 0 THEN CAST((s + np + nc - 1) // 256 AS BIGINT) END
             AS mask_last_seq
         FROM o ORDER BY pair_id""",

    "x07_token_budget_degenerate" ->
      """WITH toks AS (
           SELECT doc_id, [x for x in string_split(text, ' ')
                           if length(x) > 0] AS w
           FROM documents),
         d AS (SELECT doc_id, 500 AS score, len(w) AS n_tokens FROM toks),
         b AS (SELECT SUM(n_tokens) * 3 // 10 AS budget FROM d),
         c AS (SELECT d.*, SUM(n_tokens) OVER (ORDER BY score DESC, doc_id)
                 AS cum FROM d)
         SELECT doc_id, CAST(score AS BIGINT) AS score,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(CASE WHEN c.cum <= b.budget THEN 1 ELSE 0 END AS BIGINT)
             AS selected
         FROM c CROSS JOIN b ORDER BY doc_id""",

    "d43_host_budget" ->
      """WITH toks AS (
           SELECT doc_id, 'h' || (doc_id % 50) AS host,
                  [x for x in string_split(text, ' ')
                   if length(x) > 0] AS w
           FROM documents),
         d AS (SELECT doc_id, host,
                 CASE WHEN len(w) = 0 THEN 0
                      ELSE COALESCE(list_sum([length(x) for x in w]), 0)
                           * 100 // len(w) END AS score,
                 len(w) AS n_tokens
               FROM toks),
         c AS (SELECT d.*, SUM(n_tokens) OVER (PARTITION BY host
                 ORDER BY score DESC, doc_id) AS cum FROM d)
         SELECT doc_id, host, CAST(score AS BIGINT) AS score,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(CASE WHEN cum <= 400 THEN 1 ELSE 0 END AS BIGINT)
             AS selected
         FROM c ORDER BY doc_id""",

    "d35_url_canon" ->
      """WITH u AS (
           SELECT d.doc_id,
             'http://www.host' || (d.doc_id % 40) || '.com/a' ||
               (d.doc_id % 5) || '/b/?a=' || (d.doc_id % 7) || '&z=' ||
               (d.doc_id % 3) AS canonical_url,
             'www.host' || (d.doc_id % 40) || '.com' AS url_host
           FROM documents d)
         SELECT doc_id, canonical_url, url_host,
           CAST(COUNT(*) OVER (PARTITION BY canonical_url) AS BIGINT)
             AS n_same_canonical
         FROM u ORDER BY doc_id""",

    "d34_bm25_capped" ->
      """WITH toks AS (
           SELECT doc_id,
                  unnest([x for x in string_split(text, ' ')
                          if length(x) > 0]) AS term
           FROM documents),
         dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
         tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
         stats AS (SELECT (SELECT COUNT(*) FROM documents) AS n,
                          COALESCE(SUM(dl), 0) AS t FROM dl),
         q AS (SELECT DISTINCT doc_id AS query_id, term FROM toks
               WHERE doc_id % 101 = 0),
         df AS (SELECT term, COUNT(*) AS df
                FROM tf JOIN (SELECT DISTINCT term FROM q) USING (term)
                GROUP BY 1
                HAVING COUNT(*) <=
                  (SELECT COUNT(*) // 20 FROM documents)),
         m AS (SELECT q.query_id, tf.doc_id, tf.term, tf.tf
               FROM tf JOIN q USING (term)),
         sc AS (SELECT m.query_id, m.doc_id,
                  ((1000000 * (2*s.n - 2*df.df + 1)) // (2*df.df + 1)) *
                  ((1000 * 44 * m.tf * s.t)
                   // (20*m.tf*s.t + 6*s.t + 18*dl.dl*s.n)) AS ts
                FROM m JOIN df USING (term)
                JOIN dl ON dl.doc_id = m.doc_id CROSS JOIN stats s),
         agg AS (SELECT query_id, doc_id, SUM(ts) AS score
                 FROM sc GROUP BY 1, 2),
         r AS (SELECT query_id, doc_id, score,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY score DESC, doc_id) AS rk
               FROM agg)
         SELECT query_id, doc_id, CAST(score AS BIGINT) AS score,
                CAST(rk AS BIGINT) AS rk
         FROM r WHERE rk <= 5 ORDER BY query_id, rk""",

    // DuckDB regexp_replace replaces only the FIRST match without the 'g'
    // flag — the one cross-engine semantic difference to pin down.
    "d16_pii_redact" ->
      s"""WITH aug AS (
           SELECT doc_id,
                  text || ' contact user' || CAST(doc_id AS VARCHAR) ||
                  '@example.com' || ' or 555-867-5309 from 10.0.' ||
                  CAST(doc_id % 256 AS VARCHAR) || '.7' AS aug
           FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(aug, '${TF.EmailPattern}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(aug, '${TF.PhonePattern}')) AS BIGINT) AS n_phones,
           CAST(len(regexp_extract_all(aug, '${TF.Ipv4Pattern}')) AS BIGINT) AS n_ips,
           md5(regexp_replace(regexp_replace(regexp_replace(aug,
             '${TF.EmailPattern}', '[EMAIL]', 'g'),
             '${TF.PhonePattern}', '[PHONE]', 'g'),
             '${TF.Ipv4Pattern}', '[IP]', 'g')) AS redacted_md5
         FROM aug ORDER BY doc_id""",

    "k03_mixture_sample" ->
      """SELECT source, doc_id, rk FROM (
           SELECT source, doc_id,
             ROW_NUMBER() OVER (PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
           FROM documents)
         WHERE rk <= (CASE source WHEN 'src0' THEN 12 WHEN 'src1' THEN 8
                      WHEN 'src5' THEN 5 ELSE 2 END)
         ORDER BY source, rk""",

    "d10_winnow_containment" ->
      s"""WITH h AS MATERIALIZED (
           SELECT doc_id,
                  [${duckHash("g")} for g in
                   [substring(text, i, 3)
                    for i in range(1, greatest(length(text)-2, 0)+1)]] AS hs
           FROM documents),
         fp AS (
           SELECT doc_id,
                  list_distinct(
                    [list_min(hs[i:i+7])
                     for i in range(1, greatest(len(hs)-7, 1)+1)]) AS fps
           FROM h WHERE len(hs) > 0),
         gf AS (SELECT doc_id, unnest(fps) AS fingerprint FROM fp),
         gc AS (SELECT * FROM gf
                QUALIFY COUNT(*) OVER (PARTITION BY fingerprint) <= 100),
         sz AS (SELECT doc_id, COUNT(*) AS n FROM gc GROUP BY doc_id),
         sh AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared_fps
                FROM gc a JOIN gc b ON a.fingerprint = b.fingerprint
                                   AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
         SELECT doc_a, doc_b, shared_fps,
                CAST((shared_fps * 1000000) // LEAST(sa.n, sb.n) AS BIGINT) AS containment_e6
         FROM sh JOIN sz sa ON sa.doc_id = doc_a
                 JOIN sz sb ON sb.doc_id = doc_b
         WHERE shared_fps * 2 >= LEAST(sa.n, sb.n) * 1
         ORDER BY doc_a, doc_b""",

    "d09_quality_score" ->
      """WITH base AS (
           SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
             CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS BIGINT) AS n_punct,
             CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digits,
             [x for x in string_split(text, ' ') if length(x) > 0] AS toks
           FROM documents),
         c AS (
           SELECT doc_id, n_chars, n_punct, n_digits,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(list_reduce(list_prepend(0, [length(x) for x in toks]),
                              (a, b) -> a + b) AS BIGINT) AS tok_chars,
             CAST(len([x for x in toks
                       if x IN ('the','a','of','and','to','in')]) AS BIGINT) AS n_stop
           FROM base)
         SELECT doc_id,
           CAST(CASE WHEN n_chars > 0 THEN (n_punct * 1000000) // n_chars ELSE 0 END AS BIGINT) AS punct_ratio_e6,
           CAST(CASE WHEN n_chars > 0 THEN (n_digits * 1000000) // n_chars ELSE 0 END AS BIGINT) AS digit_ratio_e6,
           CAST(CASE WHEN n_tokens > 0 THEN (tok_chars * 1000) // n_tokens ELSE 0 END AS BIGINT) AS mean_token_len_e3,
           (n_tokens >= 5 AND n_stop >= 1 AND
            (CASE WHEN n_chars > 0 THEN (n_punct * 1000000) // n_chars ELSE 0 END) <= 200000) AS keep
         FROM c ORDER BY doc_id""",

    "ev04_funnel" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
         v AS (SELECT user_id, MIN(ts_us) AS view_us FROM ev
               WHERE event_type = 'view' GROUP BY user_id),
         c AS (SELECT e.user_id, MIN(e.ts_us) AS click_us
               FROM ev e JOIN v ON v.user_id = e.user_id
               WHERE e.event_type = 'click' AND e.ts_us >= v.view_us
               GROUP BY e.user_id),
         p AS (SELECT e.user_id, MIN(e.ts_us) AS purchase_us
               FROM ev e JOIN c ON c.user_id = e.user_id
               WHERE e.event_type = 'purchase' AND e.ts_us >= c.click_us
               GROUP BY e.user_id),
         u AS (SELECT DISTINCT user_id FROM ev)
         SELECT u.user_id, v.view_us, c.click_us, p.purchase_us
         FROM u LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id)
                LEFT JOIN p USING (user_id)
         ORDER BY user_id""",

    "ev05_asof_join" ->
      """WITH ev AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us, value
                     FROM events),
         clicks AS (SELECT event_id, user_id, ts_us FROM ev WHERE event_type = 'click'),
         views AS (SELECT user_id, ts_us, MAX(value) AS view_value FROM ev
                   WHERE event_type = 'view' GROUP BY 1, 2)
         SELECT c.event_id, c.user_id, c.ts_us,
                v.ts_us AS asof_ts_us, v.view_value AS asof_view_value
         FROM clicks c ASOF LEFT JOIN views v
           ON c.user_id = v.user_id AND c.ts_us >= v.ts_us
         ORDER BY c.event_id""",

    "ev07_asof_tolerance" ->
      """WITH ev AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us, value
                     FROM events),
         clicks AS (SELECT event_id, user_id, ts_us FROM ev WHERE event_type = 'click'),
         views AS (SELECT user_id, ts_us, MAX(value) AS view_value FROM ev
                   WHERE event_type = 'view' GROUP BY 1, 2)
         SELECT c.event_id, c.user_id, c.ts_us,
                CASE WHEN c.ts_us - v.ts_us <= 1800000000 THEN v.ts_us END AS asof_ts_us,
                CASE WHEN c.ts_us - v.ts_us <= 1800000000 THEN v.view_value END AS asof_view_value
         FROM clicks c ASOF LEFT JOIN views v
           ON c.user_id = v.user_id AND c.ts_us >= v.ts_us
         ORDER BY c.event_id""",

    "d26_source_overlap" ->
      s"""WITH ${minhashCtes("documents")},
         vp AS (SELECT doc_a, doc_b FROM verf WHERE i * 5 >= u * 4),
         lab AS (SELECT vp.doc_a, vp.doc_b, da.source AS src_a, db.source AS src_b
                 FROM vp JOIN documents da ON da.doc_id = vp.doc_a
                         JOIN documents db ON db.doc_id = vp.doc_b)
         SELECT LEAST(src_a, src_b) AS source_x, GREATEST(src_a, src_b) AS source_y,
                COUNT(*) AS n_pairs
         FROM lab GROUP BY 1, 2 ORDER BY source_x, source_y""",

    "d27_segment_dedup" ->
      """WITH d AS (
           SELECT doc_id, [x for x in string_split(text, ' ') if length(x) > 0] AS toks
           FROM documents),
         s AS (SELECT doc_id, toks,
                 unnest(range(0, CAST(len(toks) AS BIGINT), 8)) AS tok_start
               FROM d WHERE len(toks) > 0),
         segs AS (SELECT doc_id, tok_start // 8 AS seg_idx,
                    array_to_string(toks[tok_start + 1 : tok_start + 8], ' ') AS seg
                  FROM s),
         c AS (SELECT seg, COUNT(*) AS n_occ FROM segs GROUP BY 1),
         j AS (SELECT segs.doc_id, segs.seg_idx, segs.seg, c.n_occ
               FROM segs JOIN c USING (seg))
         SELECT doc_id, COUNT(*) AS n_segs,
           CAST(SUM(CASE WHEN n_occ >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
           CASE WHEN COUNT(*) > SUM(CASE WHEN n_occ >= 2 THEN 1 ELSE 0 END)
             THEN md5(string_agg(seg, ' ' ORDER BY seg_idx)
                      FILTER (WHERE n_occ < 2)) END AS kept_md5
         FROM j GROUP BY doc_id ORDER BY doc_id""",

    "d28_overlap_decontaminate" ->
      """WITH d AS (
           SELECT doc_id, [x for x in string_split(text, ' ') if length(x) > 0] AS toks
           FROM documents),
         g AS (SELECT doc_id,
                 unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
                   for i in range(1, len(toks) - 1)])) AS gram
               FROM d WHERE len(toks) >= 3),
         b AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
         t AS (SELECT g.doc_id, COUNT(*) AS n_grams,
                 CAST(COUNT(b.gram) AS BIGINT) AS n_overlap
               FROM g LEFT JOIN b ON b.gram = g.gram
               WHERE g.doc_id % 97 != 0 GROUP BY 1)
         SELECT doc_id, n_grams, n_overlap,
           (n_overlap * 1000000) // n_grams AS overlap_frac_e6,
           ((n_overlap * 1000000) // n_grams) <= 50000 AS keep
         FROM t ORDER BY doc_id""",

    "k06_dataset_split" ->
      s"""WITH s AS (SELECT doc_id, lang,
             CAST(doc_id AS VARCHAR) AS ds FROM documents),
          h AS (SELECT doc_id, lang, ${duckHash("ds")} % 1000 AS bucket
                FROM s)
          SELECT doc_id, lang, CAST(bucket AS BIGINT) AS bucket,
            CASE WHEN bucket < 900 THEN 'train'
                 WHEN bucket < 950 THEN 'validation'
                 ELSE 'test' END AS split
          FROM h ORDER BY doc_id""",

    "k04_temperature_mixture" ->
      """WITH cnt AS (SELECT lang, COUNT(*) AS c FROM documents GROUP BY 1),
         w AS (SELECT lang, c,
                 (CASE
                   WHEN CAST(floor(sqrt(CAST(c AS DOUBLE))) AS BIGINT)
                        * CAST(floor(sqrt(CAST(c AS DOUBLE))) AS BIGINT) > c
                     THEN CAST(floor(sqrt(CAST(c AS DOUBLE))) AS BIGINT) - 1
                   WHEN (CAST(floor(sqrt(CAST(c AS DOUBLE))) AS BIGINT) + 1)
                        * (CAST(floor(sqrt(CAST(c AS DOUBLE))) AS BIGINT) + 1) <= c
                     THEN CAST(floor(sqrt(CAST(c AS DOUBLE))) AS BIGINT) + 1
                   ELSE CAST(floor(sqrt(CAST(c AS DOUBLE))) AS BIGINT)
                  END) AS w
               FROM cnt),
         q AS (SELECT lang, (100 * w) // (SELECT SUM(w) FROM w) AS quota FROM w),
         r AS (SELECT lang, doc_id,
                 ROW_NUMBER() OVER (PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
               FROM documents)
         SELECT r.lang, r.doc_id, r.rk
         FROM r JOIN q ON q.lang = r.lang
         WHERE r.rk <= q.quota
         ORDER BY r.lang, r.rk""",

    "m01_raster_decode" ->
      """SELECT d.doc_id AS media_id,
           CASE WHEN d.doc_id % 2 = 0 THEN 'bmp' ELSE 'png' END AS fmt,
           16 AS width, 16 AS height,
           CAST(SUM((d.doc_id + x.r) % 256) AS BIGINT) AS sum_r,
           CAST(SUM((d.doc_id + y.r) % 256) AS BIGINT) AS sum_g,
           CAST(SUM((x.r * y.r + d.doc_id) % 256) AS BIGINT) AS sum_b
         FROM documents d
         CROSS JOIN range(0, 16) x(r)
         CROSS JOIN range(0, 16) y(r)
         GROUP BY 1, 2 ORDER BY media_id""",

    "m19_exif_tags" ->
      """SELECT doc_id AS media_id,
           CAST(1 + doc_id % 8 AS BIGINT) AS orientation,
           '2024:01:' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0') ||
             ' 00:00:' || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0')
             AS date_time,
           'cam' || (doc_id % 5) AS make,
           'm' || (doc_id % 3) AS model
         FROM documents ORDER BY media_id""",

    "m18_tiff_decode" ->
      """SELECT d.doc_id AS media_id, 'tiff' AS fmt, 16 AS width, 16 AS height,
           CAST(SUM(CASE WHEN d.doc_id % 2 = 0 THEN (d.doc_id + x.r) % 256
                         ELSE (d.doc_id + x.r * 7 + y.r * 13) % 256 END)
             AS BIGINT) AS sum_r,
           CAST(SUM(CASE WHEN d.doc_id % 2 = 0 THEN (d.doc_id + y.r) % 256
                         ELSE (d.doc_id + x.r * 7 + y.r * 13) % 256 END)
             AS BIGINT) AS sum_g,
           CAST(SUM(CASE WHEN d.doc_id % 2 = 0 THEN (x.r * y.r + d.doc_id) % 256
                         ELSE (d.doc_id + x.r * 7 + y.r * 13) % 256 END)
             AS BIGINT) AS sum_b
         FROM documents d
         CROSS JOIN range(0, 16) x(r)
         CROSS JOIN range(0, 16) y(r)
         GROUP BY 1, 2 ORDER BY media_id""",

    "m02_audio_decode" ->
      """SELECT d.doc_id AS media_id, 2 AS channels, 8000 AS sample_rate,
           CAST(100 + d.doc_id % 50 AS BIGINT) AS n_frames,
           CAST(((100 + d.doc_id % 50) * 1000) // 8000 AS BIGINT) AS duration_ms,
           CAST(SUM((d.doc_id * 7 + k.r * 3) % 2048 - 1024) AS BIGINT) AS sum_ch0,
           CAST(SUM((d.doc_id + k.r * 5) % 4096 - 2048) AS BIGINT) AS sum_ch1
         FROM documents d CROSS JOIN range(0, 150) k(r)
         WHERE k.r < 100 + d.doc_id % 50
         GROUP BY 1, 2, 3, 4, 5 ORDER BY media_id""",

    "m04_gif_decode" ->
      """SELECT d.doc_id AS media_id, 'gif' AS fmt, 16 AS width, 16 AS height,
           CAST(SUM((d.doc_id + i.r * 31) % 256) AS BIGINT) AS sum_r,
           CAST(SUM((2 * ((d.doc_id + i.r * 31) % 256)) % 256) AS BIGINT) AS sum_g,
           CAST(SUM((((d.doc_id + i.r * 31) % 256) * 3 + 7) % 256) AS BIGINT) AS sum_b
         FROM documents d CROSS JOIN range(0, 256) i(r)
         GROUP BY 1, 2, 3, 4 ORDER BY media_id""",

    "m05_video_sniff" ->
      """SELECT d.doc_id AS media_id, 'mp4' AS fmt,
           CAST(160 + d.doc_id % 100 AS INTEGER) AS width,
           CAST(90 + d.doc_id % 50 AS INTEGER) AS height,
           CAST(((600 + d.doc_id % 1200) * 1000) // 600 AS BIGINT) AS duration_ms
         FROM documents d ORDER BY media_id""",

    "m06_audio_sniff_vbr" ->
      """SELECT d.doc_id AS media_id, 'mp3' AS fmt,
           CAST(2 AS INTEGER) AS channels,
           CAST(44100 AS INTEGER) AS sample_rate,
           CAST(((5 + d.doc_id % 20) * 1152 * 1000) // 44100 AS BIGINT) AS duration_ms
         FROM documents d ORDER BY media_id""",

    "m07_audio_g711_adpcm" ->
      """SELECT d.doc_id AS media_id, 1 AS channels, 8000 AS sample_rate,
           CAST(CASE WHEN d.doc_id % 3 = 2 THEN 505
                ELSE 400 + d.doc_id % 100 END AS BIGINT) AS n_frames,
           CAST(CASE WHEN d.doc_id % 3 = 2 THEN (505 * 1000) // 8000
                ELSE ((400 + d.doc_id % 100) * 1000) // 8000
                END AS BIGINT) AS duration_ms,
           CAST(CASE
             WHEN d.doc_id % 3 = 0 THEN
               (400 + d.doc_id % 100) *
               (CASE WHEN (255 - d.doc_id % 256) >= 128 THEN -1 ELSE 1 END) *
               ((((255 - d.doc_id % 256) % 16) * 8 + 132)
                  * (1 << (((255 - d.doc_id % 256) // 16) % 8)) - 132)
             WHEN d.doc_id % 3 = 1 THEN
               (400 + d.doc_id % 100) *
               (CASE WHEN d.doc_id % 256 >= 128 THEN 1 ELSE -1 END) *
               (CASE WHEN (xor(d.doc_id % 256, 85) // 16) % 8 = 0
                     THEN (xor(d.doc_id % 256, 85) % 16) * 16 + 8
                     ELSE ((xor(d.doc_id % 256, 85) % 16) * 16 + 264)
                          * (1 << ((xor(d.doc_id % 256, 85) // 16) % 8 - 1))
                END)
             ELSE 505 * (d.doc_id * 97 % 4096 - 2048)
           END AS BIGINT) AS sum_ch0,
           CAST(0 AS BIGINT) AS sum_ch1
         FROM documents d ORDER BY media_id""",

    "m17_warc_records" ->
      """WITH d AS (SELECT doc_id AS id, 1 + doc_id % 3 AS k FROM documents),
         info AS (
           SELECT id AS shard_id, 0 AS rec_idx, 'warcinfo' AS warc_type,
             CAST(NULL AS VARCHAR) AS target_uri, 17 AS content_length,
             CAST(NULL AS BIGINT) AS http_status,
             17 AS body_len, 1520 AS body_sum
           FROM d),
         rj AS (SELECT id, k, unnest(range(1, k + 1)) AS j FROM d),
         rn AS (SELECT id, j, 20 + (id + 7 * j) % 50 AS n FROM rj),
         resp AS (
           SELECT id AS shard_id, j AS rec_idx, 'response' AS warc_type,
             'http://h' || (id % 40) || '.example/p' || j AS target_uri,
             45 + n AS content_length,
             CASE WHEN j % 2 = 1 THEN 200 ELSE 404 END AS http_status,
             n AS body_len,
             (SELECT SUM((id * 3 + j * 5 + i.r) % 64 + 32)
              FROM range(0, 70) i(r) WHERE i.r < n) AS body_sum
           FROM rn),
         req AS (
           SELECT id AS shard_id, k + 1 AS rec_idx, 'request' AS warc_type,
             'http://h' || (id % 40) || '.example/p0' AS target_uri,
             19 AS content_length, CAST(NULL AS BIGINT) AS http_status,
             19 AS body_len, 1012 AS body_sum
           FROM d WHERE id % 2 = 1)
         SELECT shard_id, CAST(rec_idx AS BIGINT) AS rec_idx, warc_type,
           target_uri, CAST(content_length AS BIGINT) AS content_length,
           CAST(http_status AS BIGINT) AS http_status,
           CAST(body_len AS BIGINT) AS body_len,
           CAST(body_sum AS BIGINT) AS body_sum
         FROM (SELECT * FROM info UNION ALL SELECT * FROM resp
               UNION ALL SELECT * FROM req)
         ORDER BY shard_id, rec_idx""",

    "m20_arrow_shards" ->
      """WITH d AS (SELECT doc_id AS id, 2 + doc_id % 3 AS k FROM documents),
         r AS (SELECT id, unnest(range(0, k)) AS r FROM d)
         SELECT id AS shard_id, CAST(r AS BIGINT) AS row_idx,
           CAST(id * 10 + r AS BIGINT) AS rec_id,
           'l' || ((id + r) % 4) AS label,
           CAST((id % 97) + r * 0.25 AS DOUBLE) AS value
         FROM r ORDER BY shard_id, row_idx""",

    "m22_raster_resize" ->
      """WITH cells AS (
           SELECT d.doc_id, x.r AS gx, y.r AS gy
           FROM documents d
           CROSS JOIN range(0, 8) x(r) CROSS JOIN range(0, 8) y(r))
         SELECT doc_id AS media_id,
           CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'png' END AS fmt,
           8 AS out_width, 8 AS out_height,
           CAST(SUM((2 * ((doc_id + 2*gx) % 256)
                   + 2 * ((doc_id + 2*gx + 1) % 256)) // 4) AS BIGINT)
             AS sum_r,
           CAST(SUM((2 * ((doc_id + 2*gy) % 256)
                   + 2 * ((doc_id + 2*gy + 1) % 256)) // 4) AS BIGINT)
             AS sum_g,
           CAST(SUM(((2*gx * 2*gy + doc_id) % 256
                   + ((2*gx + 1) * 2*gy + doc_id) % 256
                   + (2*gx * (2*gy + 1) + doc_id) % 256
                   + ((2*gx + 1) * (2*gy + 1) + doc_id) % 256) // 4)
                AS BIGINT) AS sum_b
         FROM cells GROUP BY 1, 2, 3, 4 ORDER BY media_id""",

    "m21_arrow_schema" ->
      """WITH d AS (SELECT doc_id AS id, 2 + doc_id % 3 AS k FROM documents),
         r AS (SELECT id, unnest(range(0, k)) AS r FROM d)
         SELECT id AS shard_id, CAST(r AS BIGINT) AS row_idx,
           CAST((id % 100000000) * 10 + r AS BIGINT) AS rid,
           'n' || ((id + r) % 5) AS name,
           CAST((id % 7) + r * 0.5 AS DOUBLE) AS score,
           CAST(CASE WHEN (id + r) % 2 = 0 THEN 1 ELSE 0 END AS BIGINT)
             AS flag,
           CAST(3 AS BIGINT) AS n_tags,
           CAST(id + (id + r) + r AS BIGINT) AS tags_sum
         FROM r ORDER BY shard_id, row_idx""",

    "m25_jsonl_shards" ->
      """WITH d AS (SELECT doc_id AS id, 2 + doc_id % 3 AS k
                    FROM documents),
         good AS (SELECT id, unnest(range(0, k)) AS r, k FROM d),
         g AS (SELECT id AS shard_id, CAST(r AS BIGINT) AS line_idx,
             CAST(id * 10 + r AS BIGINT) AS rec,
             'l' || ((id + r) % 4) AS label,
             CAST((id % 97) + r * 0.25 AS DOUBLE) AS value
           FROM good),
         bad AS (SELECT id AS shard_id, CAST(k AS BIGINT) AS line_idx,
             CAST(NULL AS BIGINT) AS rec, CAST(NULL AS VARCHAR) AS label,
             CAST(NULL AS DOUBLE) AS value
           FROM d WHERE id % 5 = 0)
         SELECT * FROM (SELECT * FROM g UNION ALL SELECT * FROM bad)
         ORDER BY shard_id, line_idx""",

    // m32: the reader's stats recomputed from the source lists (the
    // F32 sums fold left in index order in double on both engines)
    "m32_safetensors_shards" ->
      """WITH v AS (SELECT vec_id % 31 AS shard_id, 'v' || vec_id AS name,
             'F32' AS dtype, CAST(1 AS BIGINT) AS n_dims,
             CAST(len(embedding) AS BIGINT) AS n_elems,
             list_reduce([CAST(x AS DOUBLE) for x in embedding],
               (a, b) -> a + b) AS sum_value,
             CAST(list_min(embedding) AS DOUBLE) AS min_value,
             CAST(list_max(embedding) AS DOUBLE) AS max_value
           FROM embeddings),
         i AS (SELECT vec_id % 31 AS shard_id, 'ids' AS name,
             'I64' AS dtype, CAST(1 AS BIGINT) AS n_dims,
             COUNT(*) AS n_elems, CAST(SUM(vec_id) AS DOUBLE) AS sum_value,
             CAST(MIN(vec_id) AS DOUBLE) AS min_value,
             CAST(MAX(vec_id) AS DOUBLE) AS max_value
           FROM embeddings GROUP BY 1)
         SELECT * FROM (SELECT * FROM v UNION ALL SELECT * FROM i)
         ORDER BY shard_id, name""",

    // m33: m32's recomputation through the npz composition
    "m33_npz_shards" ->
      """WITH v AS (SELECT vec_id % 23 AS shard_id, 'v' || vec_id AS name,
             'f4' AS descr, CAST(1 AS BIGINT) AS n_dims,
             CAST(len(embedding) AS BIGINT) AS n_elems,
             list_reduce([CAST(x AS DOUBLE) for x in embedding],
               (a, b) -> a + b) AS sum_value,
             CAST(list_min(embedding) AS DOUBLE) AS min_value,
             CAST(list_max(embedding) AS DOUBLE) AS max_value
           FROM embeddings),
         i AS (SELECT vec_id % 23 AS shard_id, 'ids' AS name,
             'i8' AS descr, CAST(1 AS BIGINT) AS n_dims,
             COUNT(*) AS n_elems, CAST(SUM(vec_id) AS DOUBLE) AS sum_value,
             CAST(MIN(vec_id) AS DOUBLE) AS min_value,
             CAST(MAX(vec_id) AS DOUBLE) AS max_value
           FROM embeddings GROUP BY 1)
         SELECT * FROM (SELECT * FROM v UNION ALL SELECT * FROM i)
         ORDER BY shard_id, name""",

    // m34: the F16/BF16 widening under the hash — every planted element
    // is an exactly-representable half/bf16 value whose decoded double
    // the oracle restates in closed form (quarter-steps for F16 normals,
    // small ints for BF16, 2^-24 multiples for F16 subnormals); per-tensor
    // sums stay exact in double so decode order cannot matter
    "m34_safetensors_f16" ->
      """WITH d AS (SELECT doc_id, doc_id % 13 AS sid FROM documents),
         hg AS (SELECT sid, doc_id, unnest(range(0, 1 + doc_id % 5)) AS j
                FROM d),
         h AS (SELECT sid AS shard_id, 'h' || doc_id AS name,
                 'F16' AS dtype, CAST(1 AS BIGINT) AS n_dims,
                 CAST(COUNT(*) AS BIGINT) AS n_elems,
                 SUM(((doc_id * 3 + j) % 255) * 0.25 - 16.0) AS sum_value,
                 MIN(((doc_id * 3 + j) % 255) * 0.25 - 16.0) AS min_value,
                 MAX(((doc_id * 3 + j) % 255) * 0.25 - 16.0) AS max_value
               FROM hg GROUP BY 1, 2),
         bg AS (SELECT sid, doc_id, unnest(range(0, 1 + doc_id % 3)) AS j
                FROM d),
         b AS (SELECT sid AS shard_id, 'b' || doc_id AS name,
                 'BF16' AS dtype, CAST(1 AS BIGINT) AS n_dims,
                 CAST(COUNT(*) AS BIGINT) AS n_elems,
                 SUM(CAST((doc_id + j) % 127 - 63 AS DOUBLE)) AS sum_value,
                 MIN(CAST((doc_id + j) % 127 - 63 AS DOUBLE)) AS min_value,
                 MAX(CAST((doc_id + j) % 127 - 63 AS DOUBLE)) AS max_value
               FROM bg GROUP BY 1, 2),
         sg AS (SELECT sid, unnest(range(0, 8)) AS j
                FROM (SELECT DISTINCT sid FROM d)),
         sb16 AS (SELECT sid AS shard_id, 'sub' AS name,
                 'F16' AS dtype, CAST(1 AS BIGINT) AS n_dims,
                 CAST(COUNT(*) AS BIGINT) AS n_elems,
                 SUM(((sid * 8 + j) % 11) * 5.9604644775390625e-8)
                   AS sum_value,
                 MIN(((sid * 8 + j) % 11) * 5.9604644775390625e-8)
                   AS min_value,
                 MAX(((sid * 8 + j) % 11) * 5.9604644775390625e-8)
                   AS max_value
               FROM sg GROUP BY 1)
         SELECT * FROM (SELECT * FROM h UNION ALL SELECT * FROM b
                        UNION ALL SELECT * FROM sb16)
         ORDER BY shard_id, name""",

    // m35: both digest levels recomputed — string_agg with an explicit
    // ORDER BY is the oracle's form of the array_sort assembly
    "m35_checksum_manifest" ->
      """WITH d AS (SELECT doc_id % 7 AS shard_id, doc_id, text
                    FROM documents),
         b AS (SELECT shard_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 string_agg(text, chr(10) ORDER BY doc_id) AS body
               FROM d GROUP BY 1),
         sh AS (SELECT 'shard' AS level, shard_id, n_docs,
                  CAST(strlen(body) AS BIGINT) AS n_bytes,
                  sha256(body) AS sha
                FROM b),
         c AS (SELECT 'corpus' AS level, CAST(-1 AS BIGINT) AS shard_id,
                 CAST(SUM(n_docs) AS BIGINT) AS n_docs,
                 CAST(SUM(n_bytes) AS BIGINT) AS n_bytes,
                 sha256(string_agg(sha, '' ORDER BY shard_id)) AS sha
               FROM sh)
         SELECT * FROM (SELECT * FROM sh UNION ALL SELECT * FROM c)
         ORDER BY shard_id""",

    // m30: every record is analytically stated; ids %5-aligned rows
    // carry a null label through the nullable union
    "m30_avro_shards" ->
      """WITH d AS (SELECT doc_id AS id, 2 + doc_id % 3 AS k
                    FROM documents),
         g AS (SELECT id, unnest(range(0, k)) AS r FROM d)
         SELECT id AS shard_id, CAST(r AS BIGINT) AS rec_idx,
           CAST(id * 10 + r AS BIGINT) AS rec,
           CASE WHEN (id + r) % 5 = 0 THEN NULL
                ELSE 'l' || ((id + r) % 4) END AS label,
           CAST((id % 97) + r * 0.25 AS DOUBLE) AS value
         FROM g ORDER BY shard_id, rec_idx""",

    "m31_avro_shard_write" ->
      """SELECT CAST(doc_id % 7 AS BIGINT) AS shard_id,
           CAST(row_number() OVER (PARTITION BY doc_id % 7 ORDER BY doc_id)
                - 1 AS BIGINT) AS rec_idx,
           doc_id, lang,
           CAST((doc_id % 13) + 0.5 AS DOUBLE) AS score,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS BIGINT)
             AS flag,
           CAST(2 AS BIGINT) AS n_tags,
           CAST(doc_id + doc_id % 5 AS BIGINT) AS tags_sum
         FROM documents ORDER BY shard_id, rec_idx""",

    // m26: every record is analytically stated; the %5==0 shards LOSE
    // record 1 (its data CRC was corrupted — skipped, index preserved)
    // and the %7==0 trailing garbage stops the walk only after the real
    // records, so the surviving row set is exactly this.
    "m26_tfrecord_shards" ->
      """WITH m AS (
           SELECT d.doc_id AS shard_id, j.r AS r,
             10 + (d.doc_id + j.r * 7) % 90 AS sz
           FROM documents d CROSS JOIN range(0, 5) j(r)
           WHERE j.r < 2 + d.doc_id % 3
             AND NOT (d.doc_id % 5 = 0 AND j.r = 1)
         )
         SELECT m.shard_id, CAST(m.r AS BIGINT) AS rec_idx,
           CAST(m.sz AS BIGINT) AS size_bytes,
           CAST((SELECT SUM((m.shard_id * 3 + m.r * 5 + i.r) % 256)
                 FROM range(0, 110) i(r) WHERE i.r < m.sz) AS BIGINT)
             AS byte_sum
         FROM m ORDER BY shard_id, rec_idx""",

    "m27_tfrecord_shard_write" ->
      """WITH d AS (SELECT doc_id, doc_id % 7 AS shard_id,
                  10 + doc_id % 90 AS sz
                FROM documents)
         SELECT CAST(shard_id AS BIGINT) AS shard_id,
           CAST(row_number() OVER (PARTITION BY shard_id ORDER BY doc_id)
                - 1 AS BIGINT) AS rec_idx,
           CAST(sz AS BIGINT) AS size_bytes,
           CAST((SELECT SUM((d.doc_id * 3 + i.r) % 256)
                 FROM range(0, 110) i(r) WHERE i.r < d.sz) AS BIGINT)
             AS byte_sum
         FROM d ORDER BY shard_id, rec_idx""",

    // d54: the planted-entity construction makes the redacted text
    // analytic — the corpus text is [a-z ]-only, so redact(text) == text
    // and every placeholder position is known.
    "d54_pii_redaction" ->
      """WITH r AS (SELECT doc_id,
           text || CASE WHEN doc_id % 3 <> 0 THEN ' mail [EMAIL]'
                        ELSE '' END
                || CASE WHEN doc_id % 5 <> 0 THEN ' plus [PHONE]'
                        ELSE '' END
                || ' net [IP] acct [NUMBER]' AS red
         FROM documents)
         SELECT doc_id,
           CAST(length(red) AS BIGINT) AS red_len,
           md5(red) AS red_md5,
           CAST(CASE WHEN doc_id % 3 <> 0 THEN 1 ELSE 0 END AS BIGINT)
             AS n_email,
           CAST(CASE WHEN doc_id % 5 <> 0 THEN 1 ELSE 0 END AS BIGINT)
             AS n_phone,
           CAST(1 AS BIGINT) AS n_ip,
           CAST(1 AS BIGINT) AS n_number
         FROM r ORDER BY doc_id""",

    "k08_length_batching" ->
      """WITH d AS (SELECT doc_id, doc_id % 8 AS shard_id,
             CAST(len([x for x in string_split(text, ' ')
                       if length(x) > 0]) AS BIGINT) AS n_tokens
           FROM documents),
         r AS (SELECT *, row_number() OVER (PARTITION BY shard_id
                 ORDER BY n_tokens DESC, doc_id ASC) AS rk FROM d),
         a AS (SELECT shard_id, (rk - 1) // 32 AS batch_idx, n_tokens
               FROM r)
         SELECT CAST(shard_id AS BIGINT) AS shard_id,
           CAST(batch_idx AS BIGINT) AS batch_idx,
           COUNT(*) AS n_docs,
           MAX(n_tokens) AS max_tokens,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           CAST(MAX(n_tokens) * COUNT(*) - SUM(n_tokens) AS BIGINT)
             AS padding
         FROM a GROUP BY 1, 2 ORDER BY shard_id, batch_idx""",

    // x09: the same restatement over the planted degenerate/edge corpus
    "x09_quantile_edges" ->
      """WITH d AS (SELECT CASE WHEN doc_id % 2 = 0 THEN 'hot'
                        ELSE 'tail' END AS grp,
                      CASE WHEN doc_id % 2 = 0 THEN 7
                        ELSE doc_id % 100 END AS v
                    FROM documents),
         h AS (SELECT grp, v, COUNT(*) AS c FROM d GROUP BY 1, 2),
         cw AS (SELECT grp, v,
                  CAST(SUM(c) OVER (PARTITION BY grp ORDER BY v
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
                  CAST(SUM(c) OVER (PARTITION BY grp) AS BIGINT) AS n
                FROM h)
         SELECT grp, MAX(n) AS n_rows,
           MIN(CASE WHEN cum * 100 >= n * 1 THEN v END) AS p1,
           MIN(CASE WHEN cum * 100 >= n * 50 THEN v END) AS p50,
           MIN(CASE WHEN cum * 100 >= n * 99 THEN v END) AS p99,
           MIN(CASE WHEN cum * 100 >= n * 100 THEN v END) AS p100
         FROM cw GROUP BY 1 ORDER BY grp""",

    // k13: the cumulative histogram restated; same integer boundary test
    "k13_length_quantiles" ->
      """WITH d AS (SELECT lang,
             CAST(len([x for x in string_split(text, ' ')
                       if length(x) > 0]) AS BIGINT) AS v
           FROM documents),
         h AS (SELECT lang, v, COUNT(*) AS c FROM d GROUP BY 1, 2),
         cw AS (SELECT lang, v,
                  CAST(SUM(c) OVER (PARTITION BY lang ORDER BY v
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
                  CAST(SUM(c) OVER (PARTITION BY lang) AS BIGINT) AS n
                FROM h)
         SELECT lang, MAX(n) AS n_rows,
           MIN(CASE WHEN cum * 100 >= n * 50 THEN v END) AS p50,
           MIN(CASE WHEN cum * 100 >= n * 90 THEN v END) AS p90,
           MIN(CASE WHEN cum * 100 >= n * 99 THEN v END) AS p99
         FROM cw GROUP BY 1 ORDER BY lang""",

    // k10: the naive statement — Hamilton apportionment over per-lang
    // token masses, then the per-lang best-first prefix rule
    "k10_stratified_sample" ->
      s"""WITH s0 AS (SELECT doc_id, lang,
             CAST(len([x for x in string_split(text, ' ')
                       if length(x) > 0]) AS BIGINT) AS n_tokens,
             CAST(doc_id AS VARCHAR) AS ds
           FROM documents),
         d AS (SELECT doc_id, lang, n_tokens,
                 ${duckHash("ds")} % 1024 AS score FROM s0),
         tot AS (SELECT SUM(n_tokens) AS t, SUM(n_tokens) // 10 AS b FROM d),
         tl AS (SELECT lang, SUM(n_tokens) AS tok FROM d GROUP BY 1),
         q AS (SELECT lang, tok, (tot.b * tok) // tot.t AS fl,
                 (tot.b * tok) % tot.t AS rem
               FROM tl, tot),
         sf AS (SELECT SUM(fl) AS sfl FROM q),
         rk AS (SELECT lang, fl,
                  ROW_NUMBER() OVER (ORDER BY rem DESC, lang ASC) AS r
                FROM q),
         alloc AS (SELECT lang,
                     fl + CASE WHEN r <= (SELECT b FROM tot)
                                         - (SELECT sfl FROM sf)
                               THEN 1 ELSE 0 END AS budget
                   FROM rk),
         c AS (SELECT d.*, a.budget,
                 SUM(n_tokens) OVER (PARTITION BY d.lang
                   ORDER BY score DESC, doc_id ASC) AS cum
               FROM d JOIN alloc a ON d.lang = a.lang)
         SELECT doc_id, lang, CAST(score AS BIGINT) AS score, n_tokens,
           CAST(CASE WHEN cum <= budget THEN 1 ELSE 0 END AS BIGINT)
             AS selected
         FROM c ORDER BY doc_id""",

    "k09_epoch_shuffle" ->
      s"""WITH d AS (SELECT e.epoch, doc_id,
             CAST(e.epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR) AS ds
           FROM documents CROSS JOIN (SELECT unnest([0, 1]) AS epoch) e),
         h AS (SELECT epoch, doc_id, ${duckHash("ds")} AS key FROM d),
         r AS (SELECT epoch, doc_id, key, key % 8 AS shard_id,
                 ROW_NUMBER() OVER (PARTITION BY epoch, key % 8
                   ORDER BY key, doc_id) AS position
               FROM h)
         SELECT CAST(epoch AS BIGINT) AS epoch,
           CAST(shard_id AS BIGINT) AS shard_id,
           CAST(position AS BIGINT) AS position, doc_id,
           CAST(key AS BIGINT) AS sort_key
         FROM r ORDER BY epoch, shard_id, position""",

    "k07_shard_rebalance" ->
      """WITH d AS (SELECT doc_id AS id, 1 + 2 * (doc_id % 7) AS k
                    FROM documents),
         r AS (SELECT id, unnest(range(0, k)) AS r FROM d),
         recs AS (SELECT CAST(id * 100 + r AS BIGINT) AS rec_id,
             'l' || ((id + r) % 4) AS label,
             CAST((id % 97) + r * 0.25 AS DOUBLE) AS value
           FROM r),
         rk AS (SELECT recs.*, row_number() OVER (ORDER BY rec_id) AS rnk,
             COUNT(*) OVER () AS tot
           FROM recs),
         a AS (SELECT rec_id, label, value, rnk,
             ((rnk - 1) * 8) // tot AS shard_id
           FROM rk)
         SELECT CAST(shard_id AS BIGINT) AS shard_id,
           CAST(rnk - MIN(rnk) OVER (PARTITION BY shard_id) AS BIGINT)
             AS row_idx,
           rec_id, label, value
         FROM a ORDER BY shard_id, row_idx""",

    "m24_arrow_shard_write" ->
      """SELECT CAST(doc_id % 7 AS BIGINT) AS shard_id,
           CAST(row_number() OVER (PARTITION BY doc_id % 7 ORDER BY doc_id)
                - 1 AS BIGINT) AS row_idx,
           doc_id, lang,
           CAST((doc_id % 13) + 0.5 AS DOUBLE) AS score,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS BIGINT)
             AS flag,
           CAST(2 AS BIGINT) AS n_tags,
           CAST(doc_id + doc_id % 5 AS BIGINT) AS tags_sum
         FROM documents ORDER BY shard_id, row_idx""",

    "m16_zip_shards" ->
      """WITH m AS (
           SELECT d.doc_id AS shard_id, j.r AS j, e.ext AS ext,
             CASE WHEN e.ext = 'txt' THEN 10 + (d.doc_id + j.r * 7) % 90
                  ELSE 5 + (d.doc_id + j.r * 11) % 20 END AS sz
           FROM documents d
           CROSS JOIN range(0, 5) j(r)
           CROSS JOIN (SELECT 'txt' AS ext UNION ALL SELECT 'bin') e
           WHERE j.r < 2 + d.doc_id % 3
         )
         SELECT m.shard_id, 's' || m.j AS sample_key, m.ext,
           's' || m.j || '.' || m.ext AS member_name,
           CAST(CASE WHEN m.ext = 'txt' THEN 8 ELSE 0 END AS INTEGER)
             AS method,
           CAST(m.sz AS BIGINT) AS size_bytes,
           CAST((SELECT SUM((m.shard_id * 3 + m.j * 5 + i.r) % 256)
                 FROM range(0, 110) i(r) WHERE i.r < m.sz) AS BIGINT)
             AS byte_sum
         FROM m ORDER BY shard_id, member_name""",

    "m15_tar_shards" ->
      """WITH m AS (
           SELECT d.doc_id AS shard_id, j.r AS j, e.ext AS ext,
             CASE WHEN e.ext = 'txt' THEN 10 + (d.doc_id + j.r * 7) % 90
                  ELSE 5 + (d.doc_id + j.r * 11) % 20 END AS sz
           FROM documents d
           CROSS JOIN range(0, 5) j(r)
           CROSS JOIN (SELECT 'txt' AS ext UNION ALL SELECT 'json') e
           WHERE j.r < 2 + d.doc_id % 3
         )
         SELECT m.shard_id, 's' || m.j AS sample_key, m.ext,
           's' || m.j || '.' || m.ext AS member_name,
           CAST(m.sz AS BIGINT) AS size_bytes,
           CAST((SELECT SUM((m.shard_id * 3 + m.j * 5 + i.r) % 256)
                 FROM range(0, 110) i(r) WHERE i.r < m.sz) AS BIGINT)
             AS byte_sum
         FROM m ORDER BY shard_id, member_name""",

    // m29: the published lines are the corpus rows themselves, so the
    // write->decompress->parse round trip reduces to a window
    "m29_jsonl_shard_write" ->
      """WITH d AS (SELECT doc_id % 7 AS shard_id, doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY doc_id % 7
               ORDER BY doc_id) - 1 AS line_idx
           FROM documents)
         SELECT CAST(shard_id AS BIGINT) AS shard_id,
           CAST(line_idx AS BIGINT) AS line_idx,
           doc_id AS rec, lang AS label
         FROM d ORDER BY shard_id, line_idx""",

    // m28: every published member is analytically stated, so the whole
    // write->read round trip reduces to this closed form
    "m28_webdataset_shard_write" ->
      """WITH d AS (SELECT doc_id, doc_id % 7 AS shard_id,
             'd' || doc_id AS sample_key,
             10 + doc_id % 90 AS tsz, 5 + doc_id % 20 AS csz
           FROM documents)
         SELECT CAST(shard_id AS BIGINT) AS shard_id, sample_key,
           CAST(tsz AS BIGINT) AS txt_size,
           CAST((SELECT SUM((d.doc_id * 3 + i.r) % 256)
                 FROM range(0, 110) i(r) WHERE i.r < d.tsz) AS BIGINT)
             AS txt_sum,
           CAST(1 AS BIGINT) AS txt_n,
           CAST(csz AS BIGINT) AS cls_size,
           CAST((SELECT SUM((d.doc_id * 7 + i.r) % 256)
                 FROM range(0, 25) i(r) WHERE i.r < d.csz) AS BIGINT)
             AS cls_sum,
           CAST(1 AS BIGINT) AS cls_n,
           CAST(1 AS BIGINT) AS complete
         FROM d ORDER BY shard_id, sample_key""",

    "m23_webdataset_samples" ->
      """WITH m AS (
           SELECT d.doc_id AS shard_id, j.r AS j, e.ext AS ext,
             CASE WHEN e.ext = 'txt' THEN 10 + (d.doc_id + j.r * 7) % 90
                  ELSE 5 + (d.doc_id + j.r * 11) % 20 END AS sz
           FROM documents d
           CROSS JOIN range(0, 5) j(r)
           CROSS JOIN (SELECT 'txt' AS ext UNION ALL SELECT 'json') e
           WHERE j.r < 2 + d.doc_id % 3
             AND NOT (e.ext = 'json' AND j.r = 0 AND d.doc_id % 5 = 0)
         ),
         ms AS (
           SELECT shard_id, j, ext, sz,
             (SELECT SUM((shard_id * 3 + j * 5 + i.r) % 256)
              FROM range(0, 110) i(r) WHERE i.r < sz) AS bsum
           FROM m)
         SELECT shard_id, 's' || j AS sample_key,
           CAST(COALESCE(SUM(CASE WHEN ext = 'txt' THEN sz END), 0)
                AS BIGINT) AS txt_size,
           CAST(COALESCE(SUM(CASE WHEN ext = 'txt' THEN bsum END), 0)
                AS BIGINT) AS txt_sum,
           CAST(COUNT(CASE WHEN ext = 'txt' THEN 1 END) AS BIGINT)
             AS txt_n,
           CAST(COALESCE(SUM(CASE WHEN ext = 'json' THEN sz END), 0)
                AS BIGINT) AS json_size,
           CAST(COALESCE(SUM(CASE WHEN ext = 'json' THEN bsum END), 0)
                AS BIGINT) AS json_sum,
           CAST(COUNT(CASE WHEN ext = 'json' THEN 1 END) AS BIGINT)
             AS json_n,
           CAST(CASE WHEN COUNT(CASE WHEN ext = 'txt' THEN 1 END) = 1
                      AND COUNT(CASE WHEN ext = 'json' THEN 1 END) = 1
                THEN 1 ELSE 0 END AS BIGINT) AS complete
         FROM ms GROUP BY 1, 2 ORDER BY shard_id, sample_key""",

    "m14_ogg_sniff" ->
      """SELECT d.doc_id AS media_id,
           CASE WHEN d.doc_id % 2 = 0 THEN 'opus' ELSE 'vorbis' END AS fmt,
           CAST(1 + (d.doc_id % 4) // 2 AS INTEGER) AS channels,
           CAST(CASE WHEN d.doc_id % 2 = 0 THEN 48000
                WHEN d.doc_id % 4 = 1 THEN 44100 ELSE 22050 END AS INTEGER)
             AS sample_rate,
           CAST(CASE WHEN d.doc_id % 2 = 0
             THEN ((960 * (50 + d.doc_id % 100)) - 312) * 1000 // 48000
             ELSE (1024 * (40 + d.doc_id % 80)) * 1000 //
               (CASE WHEN d.doc_id % 4 = 1 THEN 44100 ELSE 22050 END)
             END AS BIGINT) AS duration_ms
         FROM documents d ORDER BY media_id""",

    "m13_flac_decode" ->
      """WITH s AS (
           SELECT d.doc_id AS id, i.r AS i, 192 * (2 + d.doc_id % 3) AS n
           FROM documents d CROSS JOIN range(0, 768) i(r)
           WHERE i.r < 192 * (2 + d.doc_id % 3)
         )
         SELECT id AS media_id,
           CAST(CASE WHEN id % 4 = 2 THEN 2 ELSE 1 END AS INTEGER) AS channels,
           CAST(16000 AS INTEGER) AS sample_rate,
           CAST(n AS BIGINT) AS n_frames,
           CAST((n * 1000) // 16000 AS BIGINT) AS duration_ms,
           CAST(SUM(CASE id % 4
             WHEN 0 THEN ((id + (i // 192) * 97) % 4096) - 2048
             WHEN 1 THEN ((id * 31 + i * 7) % 4096) - 2048
             WHEN 2 THEN ((id * 13 + i * 11) % 4096) - 2048
             ELSE ((id * 23 + i * 3) % 4096) - 2048 END) AS BIGINT) AS sum_ch0,
           CAST(SUM(CASE WHEN id % 4 = 2
             THEN ((id * 17 + i * 5) % 4096) - 2048 ELSE 0 END) AS BIGINT)
             AS sum_ch1
         FROM s GROUP BY id, n ORDER BY media_id""",

    "m10_jpeg_arith_decode" ->
      """SELECT d.doc_id AS media_id, 'jpeg' AS fmt, 16 AS width, 16 AS height,
           CAST(64 * SUM((d.doc_id + bx.r * 3 + by.r * 5) % 256) AS BIGINT) AS sum_r,
           CAST(64 * SUM((d.doc_id + bx.r * 3 + by.r * 5) % 256) AS BIGINT) AS sum_g,
           CAST(64 * SUM((d.doc_id + bx.r * 3 + by.r * 5) % 256) AS BIGINT) AS sum_b
         FROM documents d
         CROSS JOIN range(0, 2) bx(r) CROSS JOIN range(0, 2) by(r)
         GROUP BY 1, 2, 3, 4 ORDER BY media_id""",

    "m12_jpeg12_decode" ->
      """SELECT d.doc_id AS media_id, CAST(16 AS INTEGER) AS width,
           CAST(16 AS INTEGER) AS height,
           CAST(CASE WHEN d.doc_id % 2 = 0 THEN 1 ELSE 3 END AS INTEGER)
             AS components,
           CAST(64 * SUM((d.doc_id * 29 + bx.r * 5 + by.r * 11) % 4096)
             + (d.doc_id % 2) * 2 * 256 * 2048 AS BIGINT) AS sum_samples
         FROM documents d
         CROSS JOIN range(0, 2) bx(r) CROSS JOIN range(0, 2) by(r)
         GROUP BY 1, 2, 3, 4 ORDER BY media_id""",

    "m09_jpeg_lossless_decode" ->
      """SELECT d.doc_id AS media_id, 24 AS width, 16 AS height,
           1 AS components, 12 AS precision,
           CAST(SUM((d.doc_id * 13 + x.r * 31 + y.r * 57) % 4096) AS BIGINT)
             AS sum_samples
         FROM documents d
         CROSS JOIN range(0, 24) x(r)
         CROSS JOIN range(0, 16) y(r)
         GROUP BY 1, 2, 3, 4, 5 ORDER BY media_id""",

    "m08_video_sample_walk" ->
      """WITH s AS (
           SELECT d.doc_id, k.r AS sample_idx,
             100 + (d.doc_id + k.r * 17) % 900 AS size_bytes,
             CASE WHEN k.r < (20 + d.doc_id % 30) // 2
                  THEN k.r * (100 + d.doc_id % 7)
                  ELSE ((20 + d.doc_id % 30) // 2) * (100 + d.doc_id % 7)
                       + (k.r - (20 + d.doc_id % 30) // 2) * (200 + d.doc_id % 11)
             END AS dts_ticks
           FROM documents d CROSS JOIN range(0, 50) k(r)
           WHERE k.r < 20 + d.doc_id % 30
         )
         SELECT doc_id AS media_id, 1 AS track_id,
           CAST(sample_idx AS INTEGER) AS sample_idx,
           CAST((dts_ticks * 1000) // 600 AS BIGINT) AS dts_ms,
           CAST(size_bytes AS BIGINT) AS size_bytes,
           CAST(24 + COALESCE(SUM(size_bytes) OVER (PARTITION BY doc_id
             ORDER BY sample_idx
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS file_offset,
           CAST(CASE WHEN sample_idx % 5 = 0 THEN 1 ELSE 0 END AS INTEGER) AS is_sync
         FROM s ORDER BY media_id, sample_idx""",

    "m11_video_frame_decode" ->
      """SELECT d.doc_id AS media_id, CAST(1 AS INTEGER) AS track_id,
           CAST(k.r AS INTEGER) AS sample_idx,
           CAST(k.r * 40 AS BIGINT) AS dts_ms,
           CAST(16 AS INTEGER) AS width, CAST(16 AS INTEGER) AS height,
           CAST(256 * ((d.doc_id * 7 + k.r * 13) % 256) AS BIGINT) AS sum_gray
         FROM documents d CROSS JOIN range(0, 9) k(r)
         WHERE k.r < 4 + d.doc_id % 5
         ORDER BY media_id, sample_idx""",

    "f01_electricity_parse" ->
      """WITH auto_rows AS (
           SELECT 'doc_' || d.doc_id || '.csv' AS file_name,
             CAST(epoch(make_timestamp(2021,
                 CASE WHEN d.doc_id % 2 = 0 THEN 1 ELSE 7 END, 15,
                 10 + k.r, 0, 0)
               - CASE WHEN d.doc_id % 2 = 0 THEN INTERVAL 0 HOUR
                      ELSE INTERVAL 1 HOUR END) AS BIGINT) AS ts_epoch,
             (d.doc_id * 10 + k.r) / 4.0 AS power_mw
           FROM documents d CROSS JOIN range(0, 3) k(r)
         ), manual_rows AS (
           SELECT 'doc_' || d.doc_id || '.csv' AS file_name,
             CAST(epoch(make_timestamp(2021,
                 CASE WHEN d.doc_id % 2 = 0 THEN 1 ELSE 7 END, 16,
                 8 + k.r, 30, 0)
               - CASE WHEN d.doc_id % 2 = 0 THEN INTERVAL 0 HOUR
                      ELSE INTERVAL 1 HOUR END) AS BIGINT) AS ts_epoch,
             (d.doc_id + k.r) / 2.0 AS power_mw
           FROM documents d CROSS JOIN range(0, 2) k(r)
           WHERE d.doc_id % 7 <> 0
         )
         SELECT * FROM auto_rows UNION ALL SELECT * FROM manual_rows
         ORDER BY file_name, ts_epoch, power_mw""",

    "f02_moderator_fit" ->
      """SELECT d.doc_id AS hist_id,
           CAST((100 + d.doc_id % 50) * 1000 AS BIGINT) AS a_milli,
           CAST(5000 + (d.doc_id % 10) * 100 AS BIGINT) AS mu_milli,
           CAST(500 + (d.doc_id % 5) * 100 AS BIGINT) AS sigma_milli
         FROM documents d ORDER BY hist_id""",

    "m03_jpeg_decode" ->
      """SELECT d.doc_id AS media_id, 'jpeg' AS fmt, 16 AS width, 16 AS height,
           CAST(64 * SUM((d.doc_id + bx.r * 3 + by.r * 5) % 256) AS BIGINT) AS sum_r,
           CAST(64 * SUM((d.doc_id + bx.r * 3 + by.r * 5) % 256) AS BIGINT) AS sum_g,
           CAST(64 * SUM((d.doc_id + bx.r * 3 + by.r * 5) % 256) AS BIGINT) AS sum_b
         FROM documents d
         CROSS JOIN range(0, 2) bx(r) CROSS JOIN range(0, 2) by(r)
         GROUP BY 1, 2, 3, 4 ORDER BY media_id""",

    "ev06_retention" ->
      """WITH ev AS (SELECT user_id, date_trunc('week', ts) AS wk FROM events),
         f AS (SELECT user_id, MIN(wk) AS cohort_wk FROM ev GROUP BY 1)
         SELECT CAST(epoch(cohort_wk) AS BIGINT) AS cohort_epoch,
                CAST(epoch(wk) AS BIGINT) AS week_epoch,
                COUNT(DISTINCT e.user_id) AS n_active
         FROM ev e JOIN f USING (user_id)
         GROUP BY 1, 2 ORDER BY 1, 2""",

    "q29_rollup" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
                COALESCE(l_linestatus, 'ALL') AS ls,
                COUNT(*) AS cnt,
                CAST(SUM(CAST(l_quantity AS DECIMAL(27,4))) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY rf, ls""",

    "e01_knn_bruteforce" -> knnOracle(""),

    // e19: the 5 greedy MMR steps unrolled as chained CTE layers over the
    // exact top-20 pool; all comparisons integer (floor(cos*1e6))
    "e19_mmr_rerank" -> mmrOracle(5),
    "e02_ann_ivf" -> knnOracle("AND e.label = q.q_label"),

    "e13_sq8_topk" ->
      """WITH v AS (SELECT vec_id, embedding,
                  unnest(range(1, len(embedding) + 1)) AS pos
                FROM embeddings),
         x AS (SELECT vec_id, pos,
                 CAST(embedding[pos] AS DOUBLE) AS x FROM v),
         st AS (SELECT pos, MIN(x) AS mn, MAX(x) AS mx FROM x GROUP BY 1),
         c AS (SELECT x.vec_id, x.pos,
                 CASE WHEN st.mx = st.mn THEN 0
                      ELSE LEAST(255, GREATEST(0,
                        CAST(floor(((x.x - st.mn) * 255.0) / (st.mx - st.mn))
                          AS BIGINT))) END AS code
               FROM x JOIN st USING (pos)),
         qd AS (SELECT vec_id AS query_id, pos, code AS qc
                FROM c WHERE vec_id < 10),
         s AS (SELECT qd.query_id, c.vec_id AS neighbor_id,
                 SUM((qd.qc - c.code) * (qd.qc - c.code)) AS dist
               FROM qd JOIN c ON c.pos = qd.pos AND c.vec_id <> qd.query_id
               GROUP BY 1, 2),
         r AS (SELECT query_id, neighbor_id, dist,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY dist ASC, neighbor_id ASC)
                   AS rank FROM s)
         SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
           CAST(dist AS BIGINT) AS dist
         FROM r WHERE rank <= 5 ORDER BY query_id, rank""",

    // e17: e13's coded candidate CTE cut at 20, then exact L2 re-rank of
    // the pool only (the SQ8 boundary ties break by neighbor_id in both
    // engines, so the pool itself is deterministic)
    "e17_sq8_refine_topk" ->
      s"""WITH v AS (SELECT vec_id, embedding,
                  unnest(range(1, len(embedding) + 1)) AS pos
                FROM embeddings),
         x AS (SELECT vec_id, pos,
                 CAST(embedding[pos] AS DOUBLE) AS x FROM v),
         st AS (SELECT pos, MIN(x) AS mn, MAX(x) AS mx FROM x GROUP BY 1),
         c AS (SELECT x.vec_id, x.pos,
                 CASE WHEN st.mx = st.mn THEN 0
                      ELSE LEAST(255, GREATEST(0,
                        CAST(floor(((x.x - st.mn) * 255.0) / (st.mx - st.mn))
                          AS BIGINT))) END AS code
               FROM x JOIN st USING (pos)),
         qd AS (SELECT vec_id AS query_id, pos, code AS qc
                FROM c WHERE vec_id < 10),
         s AS (SELECT qd.query_id, c.vec_id AS neighbor_id,
                 SUM((qd.qc - c.code) * (qd.qc - c.code)) AS cdist
               FROM qd JOIN c ON c.pos = qd.pos AND c.vec_id <> qd.query_id
               GROUP BY 1, 2),
         r AS (SELECT query_id, neighbor_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cdist ASC, neighbor_id ASC)
                   AS crank FROM s),
         pool AS (SELECT query_id, neighbor_id FROM r WHERE crank <= 20),
         rr AS (SELECT p.query_id, p.neighbor_id,
                  ROUND(${duckSqDist("qe.embedding", "ne.embedding")}, 6)
                    AS dist
                FROM pool p
                JOIN embeddings qe ON qe.vec_id = p.query_id
                JOIN embeddings ne ON ne.vec_id = p.neighbor_id),
         rr2 AS (SELECT query_id, neighbor_id, dist,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY dist ASC, neighbor_id ASC) AS rank
                 FROM rr)
         SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, dist
         FROM rr2 WHERE rank <= 5 ORDER BY query_id, rank""",

    "e14_ivf_sq8_topk" ->
      """WITH v AS (SELECT vec_id, label, embedding,
                  unnest(range(1, len(embedding) + 1)) AS pos
                FROM embeddings),
         x AS (SELECT vec_id, label, pos,
                 CAST(embedding[pos] AS DOUBLE) AS x FROM v),
         st AS (SELECT pos, MIN(x) AS mn, MAX(x) AS mx FROM x GROUP BY 1),
         c AS (SELECT x.vec_id, x.label, x.pos,
                 CASE WHEN st.mx = st.mn THEN 0
                      ELSE LEAST(255, GREATEST(0,
                        CAST(floor(((x.x - st.mn) * 255.0) / (st.mx - st.mn))
                          AS BIGINT))) END AS code
               FROM x JOIN st USING (pos)),
         qd AS (SELECT vec_id AS query_id, label AS q_label, pos, code AS qc
                FROM c WHERE vec_id < 10),
         s AS (SELECT qd.query_id, c.vec_id AS neighbor_id,
                 SUM((qd.qc - c.code) * (qd.qc - c.code)) AS dist
               FROM qd JOIN c ON c.pos = qd.pos AND c.vec_id <> qd.query_id
                 AND c.label = qd.q_label
               GROUP BY 1, 2),
         r AS (SELECT query_id, neighbor_id, dist,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY dist ASC, neighbor_id ASC)
                   AS rank FROM s)
         SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
           CAST(dist AS BIGINT) AS dist
         FROM r WHERE rank <= 5 ORDER BY query_id, rank""",

    "e04_embedding_near_dup" ->
      s"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ${duckCos("a.embedding", "b.embedding")} AS score
         FROM embeddings a JOIN embeddings b
           ON a.label = b.label AND a.vec_id < b.vec_id
         WHERE ${duckCos("a.embedding", "b.embedding")} >= 0.35
         ORDER BY vec_a, vec_b""",

    "d55_semantic_decontaminate" ->
      s"""WITH b AS (SELECT vec_id AS bench_id, embedding AS b_emb
                     FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 500),
         c AS (SELECT vec_id, embedding FROM embeddings
               WHERE vec_id % 50 <> 0),
         h AS (SELECT c.vec_id, COUNT(*) AS n_hits
               FROM c JOIN b
                 ON ${duckCos("c.embedding", "b.b_emb")} >= 0.30
               GROUP BY 1)
         SELECT c.vec_id,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(CASE WHEN h.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT)
             AS kept
         FROM c LEFT JOIN h ON c.vec_id = h.vec_id
         ORDER BY c.vec_id""",

    "d56_hard_negatives" ->
      s"""WITH a AS (SELECT vec_id AS anchor_id, label AS a_label,
                     embedding AS a_emb
                   FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 500),
        scored AS (
          SELECT a.anchor_id, e.vec_id AS negative_id,
                 ${duckCos("a.a_emb", "e.embedding")} AS score
          FROM a JOIN embeddings e
            ON e.vec_id % 50 <> 0 AND e.label <> a.a_label),
        ranked AS (SELECT anchor_id, negative_id, score,
                     ROW_NUMBER() OVER (PARTITION BY anchor_id
                       ORDER BY score DESC, negative_id ASC) AS rank
                   FROM scored)
        SELECT anchor_id, rank, negative_id, score
        FROM ranked WHERE rank <= 5 ORDER BY anchor_id, rank""",

    // e18: the same cosine window with the EQUALITY predicate inside the
    // candidate set (pre-filter semantics)
    "e18_filtered_topk" ->
      s"""WITH q AS (SELECT vec_id AS query_id, label AS q_label,
                     embedding AS q_emb
                   FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 500),
        scored AS (
          SELECT q.query_id, e.vec_id AS match_id,
                 ${duckCos("q.q_emb", "e.embedding")} AS score
          FROM q JOIN embeddings e
            ON e.vec_id % 50 <> 0 AND e.label = q.q_label
               AND e.vec_id <> q.query_id),
        ranked AS (SELECT query_id, match_id, score,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY score DESC, match_id ASC) AS rank
                   FROM scored)
        SELECT query_id, rank, match_id, score
        FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""",

    // d57: the same synthesized paragraph rewrite, restated relationally:
    // first-occurrence-wins via a ROW_NUMBER over (doc, position)
    // the %13 NULL-text class contributes no paragraphs and must be
    // absent from the output (dropped-empty semantics, same as a doc
    // that loses every paragraph)
    "d57_paragraph_dedup" ->
      """WITH p AS (
           SELECT doc_id, generate_subscripts(paras, 1) AS para_idx,
                  unnest(paras) AS para
           FROM (SELECT doc_id,
                   string_split(replace(text, ' merge ', chr(10) || 'merge '),
                     chr(10)) AS paras
                 FROM documents WHERE doc_id % 13 <> 0) t
         ),
         k AS (
           SELECT doc_id, para_idx, para,
             ROW_NUMBER() OVER (PARTITION BY para
               ORDER BY doc_id, para_idx) AS rn
           FROM p
         )
         SELECT doc_id,
           string_agg(para, chr(10) ORDER BY para_idx) AS cleaned_text,
           CAST(count(*) AS BIGINT) AS n_kept
         FROM k WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id""",

    // x08: d57's first-wins rule over the skewed corpus (the appended
    // boilerplate paragraph survives only in the min-id doc)
    "x08_paragraph_dedup_hot" ->
      """WITH p AS (
           SELECT doc_id, generate_subscripts(paras, 1) AS para_idx,
                  unnest(paras) AS para
           FROM (SELECT doc_id,
                   string_split(replace(text, ' merge ', chr(10) || 'merge ')
                     || chr(10) || 'merge shared boilerplate notice',
                     chr(10)) AS paras
                 FROM documents) t
         ),
         k AS (
           SELECT doc_id, para_idx, para,
             ROW_NUMBER() OVER (PARTITION BY para
               ORDER BY doc_id, para_idx) AS rn
           FROM p
         )
         SELECT doc_id,
           string_agg(para, chr(10) ORDER BY para_idx) AS cleaned_text,
           CAST(count(*) AS BIGINT) AS n_kept
         FROM k WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id""",

    // d58: the suffix chain restated with list slicing; min() is the
    // same lexicographic matched_domain rule
    "d58_blocklist_filter" ->
      """WITH d AS (SELECT doc_id,
             'W' || (doc_id % 5) || '.s' || (doc_id % 17) || '.t' ||
               (doc_id % 3) || '.com' AS host
           FROM documents),
         b(domain) AS (VALUES ('t1.com'), ('s5.t2.com'), ('w3.s7.t0.com'),
                              ('x9.net'), ('s1.t1.com')),
         lx AS (SELECT doc_id, string_split(lower(host), '.') AS l FROM d),
         s AS (SELECT doc_id, array_to_string(l[i:], '.') AS sfx
               FROM (SELECT doc_id, l, unnest(range(1, len(l)+1)) AS i
                     FROM lx) t),
         h AS (SELECT s.doc_id, min(b.domain) AS matched_domain
               FROM s JOIN b ON s.sfx = b.domain GROUP BY s.doc_id)
         SELECT d.doc_id, d.host, h.matched_domain,
           CAST(CASE WHEN h.matched_domain IS NULL THEN 0 ELSE 1 END
             AS BIGINT) AS blocked
         FROM d LEFT JOIN h ON d.doc_id = h.doc_id ORDER BY d.doc_id""",

    // d64: one analytic output row per shard — the 200 response's page,
    // decoded and extracted (d61's kept blocks); 404/request/warcinfo
    // records vanish at the status gate
    "d64_wet_extract" ->
      """WITH b AS (SELECT doc_id,
           trim(regexp_replace('Paragraph one: ' || substr(text, 1, 30),
             ' +', ' ', 'g')) AS p1,
           trim(regexp_replace('Paragraph two says ' || substr(text, 31, 16)
             || ' & more words here', ' +', ' ', 'g')) AS p2
         FROM documents)
         SELECT doc_id AS shard_id, CAST(1 AS BIGINT) AS rec_idx,
           'http://h' || (doc_id % 40) || '.example/main' AS target_uri,
           p1 || chr(10) || p2 AS main_text,
           CAST(5 AS BIGINT) AS n_blocks, CAST(2 AS BIGINT) AS n_content
         FROM b ORDER BY shard_id""",

    // d63: every link row is analytic; the %3==0 docs carry the third
    "d63_link_extract" ->
      """WITH l AS (
           SELECT doc_id, 0 AS link_idx,
             '/p' || (doc_id % 7) AS href,
             'page ' || (doc_id % 7) AS anchor_text
           FROM documents
           UNION ALL
           SELECT doc_id, 1,
             'http://h' || (doc_id % 4) || '.com/x?a=1&b=2',
             'host ' || (doc_id % 4)
           FROM documents
           UNION ALL
           SELECT doc_id, 2, '/extra', 'extra & link'
           FROM documents WHERE doc_id % 3 = 0)
         SELECT doc_id, CAST(link_idx AS BIGINT) AS link_idx, href,
           anchor_text
         FROM l ORDER BY doc_id, link_idx""",

    // d62: the whole front door in one statement — the blocklist and
    // robots survivor conditions reduce to id arithmetic (d58/d60's
    // oracles), the kept blocks are d61's analytic paragraphs, the dedup
    // is d57's first-wins rule over the survivors
    "d62_frontdoor_pipeline" ->
      """WITH surv AS (
           SELECT doc_id, text FROM documents
           WHERE NOT ((doc_id % 3 = 1)
                   OR (doc_id % 17 = 5 AND doc_id % 3 = 2)
                   OR (doc_id % 5 = 3 AND doc_id % 17 = 7 AND doc_id % 3 = 0))
             AND NOT ((doc_id % 3 = 0 AND doc_id % 4 = 2)
                   OR (doc_id % 3 <> 0 AND doc_id % 4 = 1))),
         paras AS (
           SELECT doc_id, 0 AS para_idx,
             trim(regexp_replace('Paragraph one: ' || substr(text, 1, 30),
               ' +', ' ', 'g')) AS para
           FROM surv
           UNION ALL
           SELECT doc_id, 1,
             trim(regexp_replace('Paragraph two says ' || substr(text, 31, 16)
               || ' & more words here', ' +', ' ', 'g'))
           FROM surv),
         k AS (SELECT doc_id, para_idx, para,
                 ROW_NUMBER() OVER (PARTITION BY para
                   ORDER BY doc_id, para_idx) AS rn
               FROM paras)
         SELECT doc_id,
           string_agg(para, chr(10) ORDER BY para_idx) AS cleaned_text,
           CAST(count(*) AS BIGINT) AS n_kept
         FROM k WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id""",

    // d61: the two kept prose blocks restated analytically with the same
    // whitespace collapse + trim; block counts are structural constants;
    // the %13 NULL-html class (no fetched body) must be absent entirely
    "d61_html_extract" ->
      """WITH b AS (SELECT doc_id,
           trim(regexp_replace('Paragraph one: ' || substr(text, 1, 30),
             ' +', ' ', 'g')) AS p1,
           trim(regexp_replace('Paragraph two says ' || substr(text, 31, 16)
             || ' & more words here', ' +', ' ', 'g')) AS p2
         FROM documents WHERE doc_id % 13 <> 0)
         SELECT doc_id, p1 || chr(10) || p2 AS main_text,
           CAST(6 AS BIGINT) AS n_blocks, CAST(2 AS BIGINT) AS n_content
         FROM b ORDER BY doc_id""",

    // d66: the same floor-scaled integer rules over the same synthesized
    // violations, restated with list comprehensions
    // d69: the diff restated — same md5s, same planted classes
    // NULL text digests to the 4-char sentinel 'null' (the engine's
    // non-colliding stand-in for md5 of absent content); presence is
    // decided by side markers, never digest NULL-ness, so the NULL-text
    // id classes (%13 old, %17 new) compare under the hash like any other
    "d69_corpus_diff" ->
      """WITH v1 AS (SELECT doc_id, TRUE AS p1,
                  COALESCE(md5(CASE WHEN doc_id % 13 = 0 THEN NULL
                                    ELSE text END), 'null') AS old_md5
                FROM documents WHERE doc_id % 5 <> 0),
         v2 AS (SELECT doc_id, TRUE AS p2,
                  COALESCE(md5(CASE WHEN doc_id % 17 = 0 THEN NULL
                                    WHEN doc_id % 7 = 0 THEN text || ' [rev2]'
                                    ELSE text END), 'null') AS new_md5
                FROM documents WHERE doc_id % 11 <> 3)
         SELECT doc_id, old_md5, new_md5,
           CASE WHEN p1 IS NULL THEN 'added'
                WHEN p2 IS NULL THEN 'removed'
                WHEN old_md5 <> new_md5 THEN 'modified'
                ELSE 'unchanged' END AS status
         FROM v1 FULL OUTER JOIN v2 USING (doc_id)
         ORDER BY doc_id""",

    // d68: the repetition kernels restated by full n-gram explosion —
    // grams are single-space word joins (so gram length counts the n-1
    // separators, matching the kernel), top = MAX(count * chars),
    // dup coverage = distinct word positions inside any >=2-count gram
    "d68_gopher_repetition" ->
      """WITH r AS (SELECT doc_id, CASE doc_id % 4
             WHEN 0 THEN text
             WHEN 1 THEN text || repeat(' alpha beta gamma delta epsilon', 3)
             WHEN 2 THEN text ||
               repeat(' one two three four five six seven eight nine ten', 2)
             ELSE text || repeat(' spam', 6) END AS raw
           FROM documents),
         t AS (SELECT doc_id,
             [x for x in string_split(raw, ' ') if length(x) > 0] AS w
           FROM r),
         base AS (SELECT doc_id,
             CAST(COALESCE(list_sum([length(x) for x in w]), 0) AS BIGINT)
               AS total_chars
           FROM t),
         g3 AS (SELECT doc_id, p,
             array_to_string(list_slice(w, p, p + 2), ' ') AS g
           FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS p
                 FROM t WHERE len(w) >= 3)),
         t3 AS (SELECT doc_id, CAST(MAX(c * length(g)) AS BIGINT) AS v
                FROM (SELECT doc_id, g, COUNT(*) AS c FROM g3 GROUP BY 1, 2)
                GROUP BY 1),
         g4 AS (SELECT doc_id, p,
             array_to_string(list_slice(w, p, p + 3), ' ') AS g
           FROM (SELECT doc_id, w, unnest(range(1, len(w) - 2)) AS p
                 FROM t WHERE len(w) >= 4)),
         t4 AS (SELECT doc_id, CAST(MAX(c * length(g)) AS BIGINT) AS v
                FROM (SELECT doc_id, g, COUNT(*) AS c FROM g4 GROUP BY 1, 2)
                GROUP BY 1),
         g5 AS (SELECT doc_id, p,
             array_to_string(list_slice(w, p, p + 4), ' ') AS g
           FROM (SELECT doc_id, w, unnest(range(1, len(w) - 3)) AS p
                 FROM t WHERE len(w) >= 5)),
         c5 AS (SELECT doc_id, g FROM g5 GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         cov5 AS (SELECT DISTINCT o.doc_id, o.p + j AS q
                  FROM g5 o JOIN c5 USING (doc_id, g),
                       unnest(range(0, 5)) u(j)),
         d5 AS (SELECT cov5.doc_id,
                  CAST(SUM(length(t.w[CAST(q AS INT)])) AS BIGINT) AS v
                FROM cov5 JOIN t USING (doc_id) GROUP BY 1),
         g10 AS (SELECT doc_id, p,
             array_to_string(list_slice(w, p, p + 9), ' ') AS g
           FROM (SELECT doc_id, w, unnest(range(1, len(w) - 8)) AS p
                 FROM t WHERE len(w) >= 10)),
         c10 AS (SELECT doc_id, g FROM g10 GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         cov10 AS (SELECT DISTINCT o.doc_id, o.p + j AS q
                   FROM g10 o JOIN c10 USING (doc_id, g),
                        unnest(range(0, 10)) u(j)),
         d10 AS (SELECT cov10.doc_id,
                  CAST(SUM(length(t.w[CAST(q AS INT)])) AS BIGINT) AS v
                FROM cov10 JOIN t USING (doc_id) GROUP BY 1),
         f AS (SELECT b.doc_id, b.total_chars,
             COALESCE(t3.v, 0) AS top3_chars, COALESCE(t4.v, 0) AS top4_chars,
             COALESCE(d5.v, 0) AS dup5_chars, COALESCE(d10.v, 0) AS dup10_chars
           FROM base b LEFT JOIN t3 ON t3.doc_id = b.doc_id
             LEFT JOIN t4 ON t4.doc_id = b.doc_id
             LEFT JOIN d5 ON d5.doc_id = b.doc_id
             LEFT JOIN d10 ON d10.doc_id = b.doc_id)
         SELECT doc_id, total_chars, top3_chars, top4_chars, dup5_chars,
           dup10_chars,
           CAST(CASE WHEN total_chars > 0
                THEN top3_chars * 10000 // total_chars ELSE 0 END AS BIGINT)
             AS top3_e4,
           CAST(CASE WHEN total_chars > 0
                THEN dup5_chars * 10000 // total_chars ELSE 0 END AS BIGINT)
             AS dup5_e4,
           CAST(CASE WHEN total_chars > 0
                THEN dup10_chars * 10000 // total_chars ELSE 0 END AS BIGINT)
             AS dup10_e4
         FROM f ORDER BY doc_id""",

    // d67: the line-rule half restated — same '\n' split, trim,
    // empty-drop, and floor-scaled ratios (ellipsis/bullet code points
    // transported as chr() so the literals survive SQL transport)
    "d67_gopher_line_rules" ->
      """WITH r AS (SELECT doc_id, CASE doc_id % 4
             WHEN 0 THEN concat_ws(chr(10), substr(text, 1, 20),
               substr(text, 21, 20), substr(text, 41, 20), 'closing line')
             WHEN 1 THEN concat_ws(chr(10), substr(text, 1, 20),
               substr(text, 1, 20), substr(text, 1, 20),
               substr(text, 1, 20), substr(text, 21, 20))
             WHEN 2 THEN concat_ws(chr(10), substr(text, 1, 20) || '...',
               substr(text, 21, 20) || chr(8230), substr(text, 41, 20))
             ELSE concat_ws(chr(10), chr(8226) || ' ' || substr(text, 1, 20),
               '- ' || substr(text, 21, 20), '* ' || substr(text, 41, 20))
             END AS raw
           FROM documents),
         l AS (SELECT doc_id,
             [trim(x) for x in string_split(raw, chr(10))
              if trim(x) <> ''] AS ls
           FROM r),
         m AS (SELECT doc_id,
             CAST(len(ls) AS BIGINT) AS n_lines,
             CAST(len(list_distinct(ls)) AS BIGINT) AS n_distinct,
             CAST(len([x for x in ls if ends_with(x, '...')
               OR ends_with(x, chr(8230))]) AS BIGINT) AS n_ell,
             CAST(len([x for x in ls
               if left(x, 1) IN ('-', '*', chr(8226))]) AS BIGINT) AS n_bul
           FROM l),
         f AS (SELECT doc_id, n_lines,
             CASE WHEN n_lines > 0
                  THEN (n_lines - n_distinct) * 10000 // n_lines
                  ELSE 0 END AS dup_line_e4,
             CASE WHEN n_lines > 0 THEN n_ell * 10000 // n_lines
                  ELSE 0 END AS ellipsis_e4,
             CASE WHEN n_lines > 0 THEN n_bul * 10000 // n_lines
                  ELSE 0 END AS bullet_e4
           FROM m)
         SELECT doc_id, n_lines,
           CAST(dup_line_e4 AS BIGINT) AS dup_line_e4,
           CAST(ellipsis_e4 AS BIGINT) AS ellipsis_e4,
           CAST(bullet_e4 AS BIGINT) AS bullet_e4,
           CAST(CASE WHEN dup_line_e4 <= 3000 AND ellipsis_e4 <= 3000
                  AND bullet_e4 <= 9000 THEN 1 ELSE 0 END AS BIGINT)
             AS passed
         FROM f ORDER BY doc_id""",

    "d66_gopher_rules" ->
      """WITH r AS (SELECT doc_id, CASE doc_id % 4
             WHEN 0 THEN text || ' the of the and'
             WHEN 1 THEN text || ' # # # # # # # # # #'
             WHEN 2 THEN text ||
               ' 37 74 11 48 85 22 59 96 33 70 7 44 81 18 55 92 29 66 3 40'
             ELSE substr(text, 1, 9) END AS raw
           FROM documents),
         w AS (SELECT doc_id,
             [x for x in string_split(raw, ' ') if length(x) > 0] AS ws
           FROM r),
         m AS (SELECT doc_id,
             CAST(len(ws) AS BIGINT) AS n_words,
             CAST(list_reduce(list_prepend(0, [length(x) for x in ws]),
               (a, b) -> a + b) AS BIGINT) AS total_chars,
             CAST(len([x for x in ws if regexp_matches(x, '[a-z]')])
               AS BIGINT) AS alpha_words,
             CAST(len([x for x in ws if NOT regexp_matches(x, '[a-z0-9]')])
               AS BIGINT) AS symbol_words,
             CAST(len([x for x in ws if x IN ('the','be','to','of','and',
               'that','have','with')]) AS BIGINT) AS stop_count
           FROM w),
         f AS (SELECT doc_id, n_words,
             CASE WHEN n_words > 0 THEN total_chars * 100 // n_words
                  ELSE 0 END AS mean_wlen_e2,
             CASE WHEN n_words > 0 THEN symbol_words * 10000 // n_words
                  ELSE 0 END AS symbol_e4,
             CASE WHEN n_words > 0 THEN alpha_words * 10000 // n_words
                  ELSE 0 END AS alpha_e4,
             stop_count
           FROM m)
         SELECT doc_id, n_words,
           CAST(mean_wlen_e2 AS BIGINT) AS mean_wlen_e2,
           CAST(symbol_e4 AS BIGINT) AS symbol_e4,
           CAST(alpha_e4 AS BIGINT) AS alpha_e4, stop_count,
           CAST(CASE WHEN n_words BETWEEN 5 AND 100000
                  AND mean_wlen_e2 BETWEEN 300 AND 1000
                  AND symbol_e4 < 1000 AND alpha_e4 >= 8000
                  AND stop_count >= 2 THEN 1 ELSE 0 END AS BIGINT) AS passed
         FROM f ORDER BY doc_id""",

    // d65: DuckDB's native nfc_normalize recomputes the same UAX #15
    // composition over the identically-planted tails (built with chr()
    // so the decomposed forms survive SQL-literal transport)
    "d65_unicode_nfc" ->
      """WITH r AS (SELECT doc_id, text || CASE doc_id % 4
             WHEN 0 THEN ' e' || chr(769)
             WHEN 1 THEN ' A' || chr(778)
             WHEN 2 THEN ' ' || chr(233)
             ELSE ' ' || chr(64257) END AS raw
           FROM documents)
         SELECT doc_id, nfc_normalize(raw) AS norm_text,
           CAST(length(nfc_normalize(raw)) AS BIGINT) AS n_chars
         FROM r ORDER BY doc_id""",

    // d60: the evaluator's four decision mechanisms restated as an
    // analytic CASE over the id classes
    "d60_robots_rules" ->
      """SELECT doc_id,
           CAST(CASE WHEN doc_id % 3 = 0 AND doc_id % 4 = 2 THEN 0
                     WHEN doc_id % 3 <> 0 AND doc_id % 4 = 1 THEN 0
                     ELSE 1 END AS BIGINT) AS allowed,
           CASE WHEN doc_id % 3 = 0 AND doc_id % 4 = 2
                  THEN '/g' || (doc_id % 5) || '/'
                WHEN doc_id % 3 <> 0 AND doc_id % 4 = 0
                  THEN '/private/ok$'
                WHEN doc_id % 3 <> 0 AND doc_id % 4 = 1
                  THEN '/private/'
                ELSE NULL END AS matched_rule
         FROM documents ORDER BY doc_id""",

    // d59: the encode->sniff->decode round trip is the identity on the
    // text (plus the planted char for the two non-BOM classes), and the
    // label is a pure function of the id class
    "d59_charset_sniff" ->
      """SELECT doc_id,
           CASE doc_id % 5 WHEN 0 THEN 'utf8-bom' WHEN 1 THEN 'utf16le-bom'
             WHEN 2 THEN 'utf16be-bom' WHEN 3 THEN 'utf8'
             ELSE 'latin1' END AS charset,
           CASE WHEN doc_id % 5 IN (3, 4) THEN text || 'é' ELSE text END
             AS text_utf8,
           CAST(length(text) + CASE WHEN doc_id % 5 IN (3, 4) THEN 1 ELSE 0
             END AS BIGINT) AS n_chars
         FROM documents ORDER BY doc_id""",

    "ev03_tumbling_window" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_epoch,
           event_type, COUNT(*) AS cnt,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY window_epoch, event_type""",

    "e03_centroids" ->
      """SELECT label AS cell, CAST(dim - 1 AS INTEGER) AS dim,
           CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS centroid
         FROM (SELECT label, unnest(embedding) AS v,
                      generate_subscripts(embedding, 1) AS dim
               FROM embeddings)
         GROUP BY label, dim ORDER BY cell, dim"""
  )
}
