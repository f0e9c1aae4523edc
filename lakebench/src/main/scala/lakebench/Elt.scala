package lakebench

import java.nio.file.Path

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.runner.{Cli, IngestRunner, ResourceWriteProperties}
import graft.sources.{TableSource, TableSourceConfig}
import graft.streaming.StreamingIngest
import graft.tables.{LakeCatalog, LakeTable, Maintenance, PartitionField}
import graft.transform.{Model, ModelGraph}

/** `elt_incremental`: scheduled loads, one closed-loop client. Each cycle
  * publishes a seeded arrival batch (untimed), lands it in bronze through
  * `IngestRunner.runIngest`, hops bronze `lineitem` to silver with
  * `StreamingIngest.drainTableToTable`, and builds the marts with
  * `ModelGraph.run`, which reads its sources through the `lake` SQL
  * catalog. `Maintenance.runAll` runs after every cycle. After each cycle
  * the analyst's dashboard refreshes: one query of each [[Sql]] class over
  * the bronze tables, timed on its own. */
object Elt {
  /** New orders per cycle (about 5k line items): executor work per cycle
    * stays small, so the cycle measures the write path's fixed costs. */
  val OrdersPerCycle = 1250
  /** Orders the set-up's initial load lands. */
  val InitialOrders = 2500
  /** Share of landed orders updated per cycle, in percent. */
  val UpdatePercent = 2
  /** Cycles every run makes, however short `--seconds` is: two, or four
    * in a traced run (two traced, two not, for the tracing overhead). The
    * footprint metric is read after the first cycle, so it does not depend
    * on how many cycles fit in the run. */
  def minCycles(traced: Boolean): Int = if (traced) 4 else 2
  val Retention = "7d"

  private val Bronze = "bronze"
  private val Silver = "silver"
  private val Marts = "marts"
  private val Ns = "tpch"

  /** The bronze -> silver hop's row transform. */
  def silverRows(df: DataFrame): DataFrame =
    df.select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
      col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_returnflag"),
      col("l_shipdate"), col("loaded_at"),
      (col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1) - col("l_discount").cast("decimal(4,2)"))).as("l_revenue"))

  private def lineAgg(lines: DataFrame): DataFrame =
    lines.groupBy("l_orderkey").agg(sum("l_revenue").as("revenue"), count(lit(1)).as("n_lines"))

  private def factRows(orders: DataFrame, agg: DataFrame): DataFrame =
    orders.join(agg, orders("o_orderkey") === agg("l_orderkey"), "left")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice").cast("decimal(18,2)").as("o_totalprice"), col("o_orderdate"),
        coalesce(col("revenue"), lit(0).cast("decimal(38,4)")).as("revenue"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"), col("loaded_at").as("o_loaded_at"))

  private def martRows(fct: DataFrame): DataFrame =
    fct.groupBy(col("o_orderstatus"), date_trunc("month", col("o_orderdate")).as("month"))
      .agg(count(lit(1)).as("orders"), sum("revenue").as("revenue"),
        sum("o_totalprice").as("totalprice"))

  val graph = new ModelGraph(Seq(
    Model("stg_lineitem", Seq("silver_lineitem"),
      (_, ref) => ref("silver_lineitem").select("l_orderkey", "l_revenue")),
    Model("fct_orders", Seq("orders", "stg_lineitem"),
      (_, ref) => factRows(ref("orders"), lineAgg(ref("stg_lineitem"))),
      materialized = "incremental", uniqueKey = Seq("o_orderkey"),
      incrementalBuild = Some { (_, ref, existing) =>
        // dbt's is_incremental(): only orders landed or updated since the
        // mart's high-water mark, with their line totals
        val orders = existing match {
          case None => ref("orders")
          case Some(t) =>
            val hw = t.agg(max("o_loaded_at")).head().get(0)
            ref("orders").where(col("loaded_at") > lit(hw))
        }
        val lines = ref("stg_lineitem")
          .join(orders.select(col("o_orderkey").as("l_orderkey")), Seq("l_orderkey"), "left_semi")
        factRows(orders, lineAgg(lines))
      }),
    Model("mart_status_monthly", Seq("fct_orders"), (_, ref) => martRows(ref("fct_orders")),
      materialized = "table")))

  def run(ctx: Ctx): Outcome = {
    import ctx._
    val base = work.resolve("elt")
    val src = base.resolve("source")
    val root = base.resolve("lake")
    val catalog = new LakeCatalog(s"$root/warehouses")
    Cli.registerSqlCatalog(spark, root.toString)
    def loc(wh: String, t: String) = catalog.tableLocation(wh, Ns, t)
    def sqlName(wh: String, t: String) = s"lake.$wh.$Ns.$t"
    val checkpoint = base.resolve("checkpoint").toString
    val tableSource = new TableSource(spark, src.toString)

    // ---- generator state: keys landed, update versions, input census ----
    var landed = 1L // next order key
    var batch = 0
    val versions = mutable.HashMap.empty[Long, Int]
    var inputRows = 0L
    var inputBytes = 0L
    def loadedAt(b: Int): Long = Gen.EpochMicros + 4000L * Gen.DayMicros + b * 3600000000L
    def publish(newOrders: Int): Long = {
      val upd = if (batch == 0) Array.empty[Long]
        else Gen.sampleKeys(seed, "upd", batch, landed, (landed * UpdatePercent / 100).toInt)
      upd.foreach(k => versions(k) = versions.getOrElse(k, 0) + 1)
      val f = f"batch-$batch%05d.parquet"
      val w = Gen.arrivals(seed, src.resolve("orders.parquet").resolve(f),
        src.resolve("lineitem.parquet").resolve(f), landed, landed + newOrders,
        upd.toSeq.map(k => k -> versions(k)), loadedAt(batch))
      landed += newOrders
      batch += 1
      inputRows += w.rows
      inputBytes += w.bytes
      w.rows
    }

    // ---- one load cycle through the engine's public API ----
    val resources = Seq(
      TableSourceConfig("lineitem", chunkSize = 100000, watermarkColumn = Some("loaded_at"),
        writeProperties = ResourceWriteProperties(partition = Seq(PartitionField("l_shipdate", "month")))),
      TableSourceConfig("orders", chunkSize = 100000, watermarkColumn = Some("loaded_at"),
        writeProperties = ResourceWriteProperties(mergeOn = Seq("o_orderkey"), writeMode = "merge"))
    ).map { c =>
      val r = tableSource.resource(c)
      r.copy(extractor = wm => tracer.iterator("sources.extract", r.extractor(wm)))
    }
    // bronze lineitem's snapshot after each load, for time travel
    val snapshots = mutable.ArrayBuffer.empty[Long]
    def cycle(): Unit = {
      tracer.span("runner.ingest") {
        IngestRunner.runIngest(spark, catalog, Bronze, Ns, resources)
      }
      tracer.span("streaming.drain") {
        StreamingIngest.drainTableToTable(spark, loc(Bronze, "lineitem"), loc(Silver, "lineitem"),
          checkpoint, Seq("l_orderkey", "l_linenumber"), silverRows)
      }
      tracer.span("transform.run") {
        graph.run(spark, Map(
          "silver_lineitem" -> spark.table(sqlName(Silver, "lineitem")),
          "orders" -> spark.table(sqlName(Bronze, "orders"))),
          catalog = Some((catalog, Marts, Ns)))
      }
      snapshots += LakeTable.load(spark, loc(Bronze, "lineitem")).metadata.currentSnapshotId
    }
    // ---- the dashboard refresh after each cycle ----
    val mix = Gen.rng(seed, "mix", 0)
    val queries = mutable.ArrayBuffer.empty[Sql.Done]
    def refresh(i: Int, isTraced: Boolean): Unit = {
      val order = new scala.util.Random(Gen.rng(seed, "round", i).nextLong())
        .shuffle(Layers.SqlClasses)
      order.foreach { c =>
        val q = Sql.pick(mix, c, landed, batch)
        val text = Sql.render(q, Map("lineitem" -> sqlName(Bronze, "lineitem"),
          "orders" -> sqlName(Bronze, "orders"),
          "lineitem_at" -> s"${sqlName(Bronze, "lineitem")} VERSION AS OF ${snapshots(math.max(0, q.pin - 1))}"))
        queries += Sql.execute(ctx, q, text, batch, isTraced)
      }
    }
    // The drained bronze lineitem is a stream source: a compaction there
    // is a non-append commit the stream refuses, so maintenance covers the
    // tables nothing streams from.
    val maintained = Seq(Bronze -> Seq("orders"), Silver -> Seq("lineitem"),
      Marts -> Seq("fct_orders", "mart_status_monthly"))
    def maintain(): Unit = tracer.span("maintenance.run") {
      maintained.foreach { case (wh, ts) =>
        Maintenance.runAll(spark, catalog, wh, Ns, ts, Retention).filterNot(_.ok)
          .foreach(r => throw new IllegalStateException(s"maintenance failed on ${r.table}: ${r.detail}"))
      }
    }

    // micro-batches per drain, from the streaming listener
    val streamBatches = new java.util.concurrent.atomic.AtomicInteger
    spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) streamBatches.incrementAndGet()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })

    // ---- set-up: the initial full load, three times from a clean slate ----
    val setupS = setup(3) { () =>
      Lake.delete(base)
      landed = 1L; batch = 0; versions.clear(); inputRows = 0L; inputBytes = 0L; snapshots.clear()
      publish(InitialOrders)
    } { cycle() }
    var attempted = 0L
    var failed = 0L

    // ---- warm-up: one untimed load cycle and its maintenance ----
    // The set-up loads into empty tables. The first load after it is the
    // first to run the merge, incremental-model and compaction paths; its
    // wall depends mostly on how soon the JIT gets to them, which swings
    // with the host far more than later cycles do.
    publish(OrdersPerCycle)
    attempted += 1
    try { cycle(); maintain(); say("warm-up: one load cycle and its maintenance") }
    catch { case e: Exception => say(s"warm-up cycle failed: $e"); failed += 1 }
    sampleHeap()

    // ---- timed closed loop ----
    val cycleWalls = mutable.ArrayBuffer.empty[Double]
    val tracedCycles = mutable.ArrayBuffer.empty[Double]
    val untracedCycles = mutable.ArrayBuffer.empty[Double]
    var timedWall = 0.0
    var rowsCarried = 0L
    var footprint = Double.NaN
    val inputBytesAtStart = inputBytes
    val tablesAtStart = Lake.tables(root).map(t => t -> Lake.metadata(spark, t)).toMap
    val metaBytesStart = Lake.tables(root).map(Lake.currentMetadataBytes(spark, _)).sum.toDouble
    val commitsPerCycle = mutable.ArrayBuffer.empty[Double]
    val maintenanceRewritten = mutable.ArrayBuffer.empty[Double]
    val drainBatches = mutable.ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + seconds * 1000000000L
    var cycleCount = 0
    while (System.nanoTime() < deadline || cycleCount < minCycles(traced)) {
      cycleCount += 1
      val i = cycleCount
      val isTraced = traceOp(i - 1)
      val rows = publish(OrdersPerCycle)
      attempted += 1
      val commitsBefore = if (isTraced) Lake.commitFiles(root) else 0
      val batchesBefore = streamBatches.get
      val t0 = System.nanoTime()
      val ok = try {
        tracer.span("elt.cycle")(cycle())
        true
      } catch { case e: Exception => say(s"cycle $i failed: $e"); false }
      val wall = (System.nanoTime() - t0) / 1e9
      var maintWall = 0.0
      if (ok) {
        val before: Map[Path, graft.tables.TableMetadata] =
          if (isTraced) Lake.tables(root).map(t => t -> Lake.metadata(spark, t)).toMap else Map.empty
        val m0 = System.nanoTime()
        val mok = try { maintain(); true }
          catch { case e: Exception => say(s"maintenance after cycle $i failed: $e"); false }
        maintWall = (System.nanoTime() - m0) / 1e9
        if (!mok) failed += 1
        else if (isTraced) maintenanceRewritten += before.map { case (t, prev) =>
          val kept = prev.currentSnapshot.map(_.files.map(_.path).toSet).getOrElse(Set.empty[String])
          Lake.metadata(spark, t).currentSnapshot.toSeq.flatMap(_.files)
            .filterNot(f => kept.contains(f.path)).map(f => math.max(0L, f.sizeBytes)).sum.toDouble
        }.sum
      }
      if (!ok) failed += 1
      else {
        cycleWalls += wall
        (if (isTraced) tracedCycles else untracedCycles) += wall
        timedWall += wall + maintWall
        rowsCarried += rows
        if (isTraced) {
          commitsPerCycle += (Lake.commitFiles(root) - commitsBefore).toDouble
          drainBatches += (streamBatches.get - batchesBefore).toDouble
        }
      }
      if (i == 1)
        footprint = Lake.bytesOnDisk(root).toDouble / inputBytes
      // the dashboard feeds per-layer figures only, so only a traced run
      // refreshes it
      if (ok && traced) refresh(i, isTraced)
      sampleHeap()
    }
    say(f"cycles: ${cycleWalls.size} ok of $cycleCount, walls ${cycleWalls.map(w => f"$w%.3f").mkString(" ")}; timed wall with maintenance $timedWall%.3f")

    // ---- output checks: an independent plain-DataFrame recomputation ----
    val checkOk = try check(spark, src, loc(Bronze, "orders"), loc(Silver, "lineitem"),
      loc(Marts, "fct_orders"), loc(Marts, "mart_status_monthly"), say)
      catch { case e: Exception => say(s"output check threw: $e"); false }
    if (!checkOk) failed = attempted
    // every dashboard query against the same SQL over plain parquet views
    // of the source files as they stood when it ran
    val lineitemSrc = spark.read.parquet(src.resolve("lineitem.parquet").toString)
    val ordersSrc = spark.read.parquet(src.resolve("orders.parquet").toString)
    val views = mutable.HashSet.empty[Int]
    def viewsAt(k: Int): Unit = if (views.add(k)) {
      val upTo = expr(s"timestamp_micros(${loadedAt(k - 1)})")
      lineitemSrc.where(col("loaded_at") <= upTo).createOrReplaceTempView(s"ref_lineitem_$k")
      latestVersions(ordersSrc.where(col("loaded_at") <= upTo)).createOrReplaceTempView(s"ref_orders_$k")
    }
    val reference = mutable.HashMap.empty[String, String]
    val badQueries = queries.filter { d =>
      d.error.isDefined || {
        viewsAt(d.loads); viewsAt(math.max(1, d.q.pin))
        val ref = Sql.render(d.q, Map("lineitem" -> s"ref_lineitem_${d.loads}",
          "orders" -> s"ref_orders_${d.loads}", "lineitem_at" -> s"ref_lineitem_${math.max(1, d.q.pin)}"))
        val want = reference.getOrElseUpdate(ref, Stats.digestRows(spark.sql(ref).collect().toSeq))
        val same = Stats.digestRows(d.rows) == want
        if (!same) say(s"check query ${d.q.cls} after load ${d.loads}: MISMATCH: ${d.q.sql}")
        !same
      }
    }
    badQueries.flatMap(_.error).foreach(e => say(s"query failed: $e"))
    attempted += queries.size
    failed += badQueries.size
    say(s"dashboard queries: ${queries.size}, ${badQueries.size} failed")
    say(s"input: $inputRows rows, $inputBytes bytes over $batch batches")

    // the dashboard's own figures (a traced run's queries, traced or not)
    val okQ = queries.filter(_.error.isEmpty)
    def walls(cs: String*) = okQ.filter(d => cs.contains(d.q.cls)).map(_.wall).toSeq
    def p50(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else Stats.median(xs)
    if (okQ.nonEmpty) {
      val qt = Stats.tail(okQ.map(_.wall).toSeq)
      say(f"sql_lookup_p50_s = ${p50(walls("lookup", "range"))}%.4f; sql_scan_p50_s = ${p50(walls("scan"))}%.4f; " +
        f"sql_query_tail_s = ${qt.value}%.4f (${qt.describe})")
    }

    if (!traced) {
      val tail = Stats.tail(cycleWalls.toSeq)
      say(f"elt_rows_per_s = ${rowsCarried / timedWall}%.1f; elt_cycle_p50_s = ${Stats.median(cycleWalls.toSeq)}%.4f; " +
        f"elt_cycle_tail_s = ${tail.value}%.4f (${tail.describe}); elt_stored_bytes_per_input_byte = $footprint%.4f (after cycle 1)")
      Outcome(attempted, failed, Seq(
        Metric("setup_s", setupS, "s"),
        Metric("heap_live_peak_mb", heapLivePeakMb, "MB"),
        Metric("throughput_per_s", rowsCarried / timedWall, "1/s"),
        Metric("op_p50_s", Stats.median(cycleWalls.toSeq), "s"),
        Metric("op_tail_s", tail.value, "s"),
        Metric("stored_bytes_per_input_byte", footprint, "ratio")))
    } else {
      drainListener()
      val figs = SpanFigures.of(tracer.spans, listener.records)
      def perCycle(name: String, f: SpanFigures => Double): Double = {
        val byCycle = figs.filter(_.span.name == "elt.cycle").map { c =>
          figs.filter(x => x.span.name == name && x.span.start >= c.span.start && x.span.end <= c.span.end).map(f).sum
        }
        Stats.medianOrZero(byCycle)
      }
      val cycles = figs.filter(_.span.name == "elt.cycle")
      val maint = figs.filter(_.span.name == "maintenance.run")
      val tablesEnd = Lake.tables(root).map(t => t -> Lake.metadata(spark, t)).toMap
      val metaBytesEnd = Lake.tables(root).map(Lake.currentMetadataBytes(spark, _)).sum.toDouble
      val written = tablesEnd.map { case (t, m) =>
        Lake.referencedDataBytes(m) - tablesAtStart.get(t).map(Lake.referencedDataBytes).getOrElse(0L)
      }.sum.toDouble
      val merges = tablesEnd.flatMap { case (t, m) =>
        Lake.mergeRewriteRatios(m, tablesAtStart.get(t).map(_.currentSnapshotId).getOrElse(-1L))
      }.toSeq
      val live = tablesEnd.values.map(Lake.live)
      val largest = tablesEnd.maxBy(_._2.snapshots.map(_.files.size).sum)._1
      val nCycles = math.max(1, cycles.size + untracedCycles.size)
      val values = Map(
        "runner.ingest_s" -> perCycle("runner.ingest", _.self / 1000),
        "sources.extract_s" -> perCycle("sources.extract", _.span.dur / 1000),
        "streaming.drain_s" -> perCycle("streaming.drain", _.span.dur / 1000),
        "streaming.batches" -> Stats.medianOrZero(drainBatches.toSeq),
        "transform.run_s" -> perCycle("transform.run", _.span.dur / 1000),
        "maintenance.run_s" -> Stats.medianOrZero(maint.map(_.span.dur / 1000)),
        "maintenance.bytes_rewritten" -> Stats.medianOrZero(maintenanceRewritten.toSeq),
        "tables.commits" -> Stats.medianOrZero(commitsPerCycle.toSeq),
        "tables.metadata_bytes" -> metaBytesEnd,
        "tables.metadata_growth_bytes" -> (metaBytesEnd - metaBytesStart) / nCycles,
        "tables.merge_rewrite_ratio" -> Stats.medianOrZero(merges),
        "tables.bytes_written_per_input_byte" -> written / math.max(1L, inputBytes - inputBytesAtStart),
        "tables.metadata_load_s" -> Lake.metadataLoadS(spark, largest.toString),
        "tables.live_files" -> live.map(_._1).sum.toDouble,
        "tables.avg_file_kb" -> live.map(_._2).sum / 1e3 / math.max(1, live.map(_._1).sum),
        "elt.cycle_uncovered_s" -> Stats.medianOrZero(cycles.map(_.self / 1000))
      ) ++ sqlLayers(queries.toSeq, figs, tablesEnd, snapshots.toSeq) ++
        Layers.engine(figs) ++ Layers.overhead(tracedCycles.toSeq, untracedCycles.toSeq)
      say(f"cycle wall vs top-level self times (median): cycle ${perCycle("elt.cycle", _.span.dur / 1000)}%.4f s = " +
        f"ingest self ${values("runner.ingest_s")}%.4f + extract ${values("sources.extract_s")}%.4f + " +
        f"drain ${values("streaming.drain_s")}%.4f + transform ${values("transform.run_s")}%.4f + uncovered ${values("elt.cycle_uncovered_s")}%.4f")
      Outcome(attempted, failed, Layers.metrics(values))
    }
  }

  /** Per-class SQL figures from the traced dashboard queries. A query's
    * files-read ratio divides its scans' file count by the live files of
    * the tables it names (for time travel, of the pinned snapshot). */
  private def sqlLayers(queries: Seq[Sql.Done], figs: Seq[SpanFigures],
                        tables: Map[Path, graft.tables.TableMetadata],
                        snapshots: Seq[Long]): Map[String, Double] = {
    def meta(t: String) = tables.collectFirst {
      case (p, m) if p.getFileName.toString == t && p.getParent.getParent.getFileName.toString == Bronze => m
    }.get
    val (li, or) = (meta("lineitem"), meta("orders"))
    def liveAt(id: Long) = li.snapshots.find(_.id == id).map(_.files.size).getOrElse(0)
    def denominator(d: Sql.Done): Double = d.q.cls match {
      case "timetravel" => liveAt(snapshots(math.max(0, d.q.pin - 1)))
      case "scan" => Lake.live(li)._1 + Lake.live(or)._1
      case _ => if (d.q.sql.contains("{orders}")) Lake.live(or)._1 else Lake.live(li)._1
    }
    val traced = queries.filter(d => d.traced && d.error.isEmpty)
    Layers.SqlClasses.flatMap { c =>
      val ds = traced.filter(_.q.cls == c)
      Seq(s"sql.plan_s.$c" -> Stats.medianOrZero(ds.map(_.planS)),
        s"sql.exec_s.$c" -> Stats.medianOrZero(ds.map(_.execS)),
        s"sql.files_read_ratio.$c" -> Stats.medianOrZero(ds.map(d => d.files / math.max(1.0, denominator(d)))),
        s"sql.bytes_read.$c" -> Stats.medianOrZero(figs.filter(_.span.name == s"sql.$c").map(_.bytesRead.toDouble)))
    }.toMap
  }

  /** The latest version of each order key. */
  def latestVersions(orders: DataFrame): DataFrame =
    orders.withColumn("_rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("o_orderkey").orderBy(col("loaded_at").desc)))
      .where(col("_rk") === 1).drop("_rk")

  /** Silver and mart tables against a plain-DataFrame recomputation over the
    * generated source files; landing `orders` must hold exactly the latest
    * version of each key. */
  def check(spark: SparkSession, src: Path, bronzeOrders: String, silverLineitem: String,
            fctOrders: String, mart: String, say: String => Unit): Boolean = {
    val lineitem = spark.read.parquet(src.resolve("lineitem.parquet").toString)
    val ordersAll = spark.read.parquet(src.resolve("orders.parquet").toString)
    val latest = latestVersions(ordersAll)
    val silverRef = silverRows(lineitem)
    val fctRef = factRows(latest, lineAgg(silverRef))
    def same(name: String, got: DataFrame, want: DataFrame): (Boolean, String) = {
      val g = Stats.digest(got.select(want.columns.map(col).toIndexedSeq: _*))
      val w = Stats.digest(want)
      (g == w, if (g != w) s"check $name: MISMATCH lake=$g reference=$w" else s"check $name: ok ($w)")
    }
    // the four comparisons are independent small jobs: run them at once
    val pending = Seq(
      () => same("bronze orders = latest version per key", LakeTable.load(spark, bronzeOrders).read(), latest),
      () => same("silver lineitem", LakeTable.load(spark, silverLineitem).read(), silverRef),
      () => same("fct_orders", LakeTable.load(spark, fctOrders).read(), fctRef),
      () => same("mart_status_monthly", LakeTable.load(spark, mart).read(), martRows(fctRef))
    ).map(c => Future(c())(ExecutionContext.global))
    val results = pending.map(Await.result(_, Duration.Inf))
    results.foreach { case (_, line) => say(line) }
    results.forall(_._1)
  }
}
