package lakebench

import java.util.SplittableRandom

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** The analyst's dashboard queries over the `lake` SQL catalog, four
  * classes: `lookup` (key point lookups), `range` (one week of ship dates),
  * `scan` (a q12-style join and aggregate over whole tables) and
  * `timetravel` (an aggregate `VERSION AS OF` an earlier load). */
object Sql {

  /** A query over `{lineitem}`, `{orders}` and `{lineitem_at}` (the
    * time-travel target); `pin` is the load count the pinned snapshot holds. */
  final case class Query(cls: String, sql: String, pin: Int)

  def render(q: Query, tables: Map[String, String]): String =
    tables.foldLeft(q.sql) { case (s, (k, v)) => s.replace(s"{$k}", v) }

  /** A seeded query of class `cls`; `landed` is the next unused order key,
    * `loads` the number of loads committed so far. */
  def pick(r: SplittableRandom, cls: String, landed: Long, loads: Int): Query = cls match {
    case "lookup" =>
      val k = 1L + r.nextLong(landed - 1)
      if (r.nextBoolean())
        Query(cls, s"SELECT l_linenumber, l_quantity, l_extendedprice, l_shipdate FROM {lineitem} WHERE l_orderkey = $k", 0)
      else
        Query(cls, s"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate FROM {orders} WHERE o_orderkey = $k", 0)
    case "range" =>
      val days = (landed * Gen.OrderDateSpanDays / Gen.SfOrders).toInt + 130
      val from = java.time.LocalDate.of(1992, 1, 1).plusDays(r.nextInt(days).toLong)
      Query(cls, "SELECT l_returnflag, COUNT(*) AS n, SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS price " +
        s"FROM {lineitem} WHERE l_shipdate >= TIMESTAMP '$from 00:00:00' " +
        s"AND l_shipdate < TIMESTAMP '${from.plusDays(7)} 00:00:00' GROUP BY l_returnflag", 0)
    case "scan" =>
      Query(cls, "SELECT o.o_orderpriority, l.l_returnflag, COUNT(*) AS lines, " +
        "SUM(CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END) AS finished, " +
        "SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS revenue " +
        "FROM {lineitem} l JOIN {orders} o ON l.l_orderkey = o.o_orderkey " +
        "GROUP BY o.o_orderpriority, l.l_returnflag", 0)
    case "timetravel" =>
      Query(cls, "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty " +
        "FROM {lineitem_at} GROUP BY l_returnflag, l_linestatus", 1 + r.nextInt(math.max(1, loads - 1)))
  }

  /** Scan file counts of an executed plan (AQE stages included). */
  def filesRead(plan: SparkPlan): Long = plan match {
    case a: AdaptiveSparkPlanExec => filesRead(a.executedPlan)
    case q: QueryStageExec => filesRead(q.plan)
    case p => p.metrics.get("numFiles").map(_.value).getOrElse(0L) + p.children.map(filesRead).sum
  }

  /** One executed query: `loads` is the load count it ran after. */
  final case class Done(q: Query, loads: Int, wall: Double, planS: Double, execS: Double,
                        rows: Seq[Row], files: Long, traced: Boolean, error: Option[String])

  /** Run `sql` as one span `sql.<class>`: planning is forced first, so the
    * plan and execution times separate. */
  def execute(ctx: Ctx, q: Query, sql: String, loads: Int, traced: Boolean): Done = {
    val t0 = System.nanoTime()
    try ctx.tracer.span(s"sql.${q.cls}") {
      val df = ctx.spark.sql(sql)
      val p0 = System.nanoTime()
      df.queryExecution.executedPlan
      val e0 = System.nanoTime()
      val rows = df.collect().toSeq
      val e1 = System.nanoTime()
      val files = if (traced) filesRead(df.queryExecution.executedPlan) else 0L
      Done(q, loads, (e1 - t0) / 1e9, (e0 - p0) / 1e9, (e1 - e0) / 1e9, rows, files, traced, None)
    } catch {
      case e: Exception => Done(q, loads, (System.nanoTime() - t0) / 1e9, 0, 0, Nil, 0, traced, Some(e.toString))
    }
  }
}
