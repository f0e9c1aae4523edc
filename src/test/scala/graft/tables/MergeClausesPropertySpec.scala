package graft.tables

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Model-based property gate for the general merge-clause matrix.
  * First-satisfied-clause-wins selection across conditional
  * matched/not-matched/by-source clauses composes with the
  * copy-on-write touched-file split — seeded random clause sets and
  * data run against both the real table and a Scala reference
  * implementation of SQL MERGE semantics; contents must agree after
  * every step. The upsert (`merge(df, keys)`) is the same engine's
  * update-all / insert-all clause set; seeded upsert steps, interleaved
  * with clause steps, run against the model's upsert. */
class MergeClausesPropertySpec extends AnyFunSuite with SparkSpec {
  import MergeClauses._
  import spark.implicits._

  // a clause condition/assignment exists twice: as a Column over the
  // merge frame and as a Scala function over the model rows
  private case class MCond(col: Option[Column],
                           eval: (Option[(String, Int)], Option[(String, Int)]) => Boolean)
  private case class MSet(cols: Map[String, Column],
                          eval: ((String, Int), Option[(String, Int)]) => (String, Int))

  private val matchedConds: Seq[MCond] = Seq(
    MCond(None, (_, _) => true),
    MCond(Some(s("v") > t("v")), (tv, sv) => sv.get._2 > tv.get._2),
    MCond(Some(s("v") % 2 === 0), (_, sv) => sv.get._2 % 2 == 0),
    MCond(Some(t("v") >= 50), (tv, _) => tv.get._2 >= 50))
  private val insertConds: Seq[MCond] = Seq(
    MCond(None, (_, _) => true),
    MCond(Some(s("v") % 2 === 0), (_, sv) => sv.get._2 % 2 == 0),
    MCond(Some(s("v") >= 30), (_, sv) => sv.get._2 >= 30))
  private val bySourceConds: Seq[MCond] = Seq(
    MCond(None, (_, _) => true),
    MCond(Some(t("v") % 3 === 0), (tv, _) => tv.get._2 % 3 == 0),
    MCond(Some(t("v") < 20), (tv, _) => tv.get._2 < 20))
  private val updateSets: Seq[MSet] = Seq(
    MSet(Map("name" -> s("name"), "v" -> (s("v") + t("v"))),
      (tv, sv) => (sv.get._1, sv.get._2 + tv._2)),
    MSet(Map("v" -> (t("v") + 1)), (tv, _) => (tv._1, tv._2 + 1)))
  private val bySourceSets: Seq[MSet] = Seq(
    MSet(Map("v" -> lit(-1)), (tv, _) => (tv._1, -1)),
    MSet(Map("name" -> concat(t("name"), lit("!"))), (tv, _) => (tv._1 + "!", tv._2)))

  private type Model = Map[Long, (String, Int)]

  private def newTable(name: String): LakeTable =
    LakeTable.ensure(spark, tmpDir(name),
      Seq((1L, "x", 0)).toDF("id", "name", "v").schema)

  private def assertAgrees(tbl: LakeTable, model: Model, seed: Long, step: Int): Unit = {
    val actual = tbl.read().as[(Long, String, Int)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(actual == model,
      s"seed=$seed step=$step: ${actual.size} vs model ${model.size}\n" +
        s"missing=${(model.keySet -- actual.keySet).toSeq.sorted.take(5)} " +
        s"extra=${(actual.keySet -- model.keySet).toSeq.sorted.take(5)} " +
        s"diff=${model.collect { case (k, v) if actual.get(k).exists(_ != v) => k }.take(5)}")
  }

  private def runSequence(seed: Long, steps: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    val tbl = newTable(s"mc_prop_$seed")

    // seed rows
    val init = (1 to 30).map(i => (i.toLong, s"n$i", rnd.nextInt(100)))
    tbl.write(init.toDF("id", "name", "v"), "append")
    var model: Model = init.map(r => r._1 -> (r._2, r._3)).toMap

    for (step <- 1 to steps) {
      model = clauseStep(rnd, tbl, model, step)
      assertAgrees(tbl, model, seed, step)
    }
  }

  /** One seeded step of a random clause matrix through `mergeClauses`;
    * returns the model after SQL MERGE semantics. */
  private def clauseStep(rnd: scala.util.Random, tbl: LakeTable, model: Model,
                         step: Int): Model = {
    val srcRows = Seq.fill(1 + rnd.nextInt(8))(
      (rnd.nextInt(45).toLong + 1, s"s$step-${rnd.nextInt(99)}", rnd.nextInt(100)))
      .distinctBy(_._1)

    // random clause matrix (ordered; each clause draws its own cond)
    def draw[A](xs: Seq[A]) = xs(rnd.nextInt(xs.size))
    val mClauses: Seq[(Clause, MCond, Option[MSet])] =
      rnd.shuffle(Seq.tabulate(rnd.nextInt(3)) { _ =>
        val c = draw(matchedConds)
        if (rnd.nextBoolean()) {
          val st = draw(updateSets)
          (Update(c.col, st.cols), c, Some(st))
        } else (Delete(c.col), c, None)
      })
    val nClauses: Seq[(Insert, MCond)] =
      Seq.tabulate(rnd.nextInt(2)) { _ =>
        val c = draw(insertConds)
        (Insert(c.col, Map("id" -> s("id"), "name" -> s("name"), "v" -> s("v"))), c)
      }
    val bClauses: Seq[(Clause, MCond, Option[MSet])] =
      Seq.tabulate(rnd.nextInt(2)) { _ =>
        val c = draw(bySourceConds)
        if (rnd.nextBoolean()) {
          val st = draw(bySourceSets)
          (Update(c.col, st.cols), c, Some(st))
        } else (Delete(c.col), c, None)
      }
    if (mClauses.isEmpty && nClauses.isEmpty && bClauses.isEmpty) {
      model // nothing to do this step
    } else {
      tbl.mergeClauses(srcRows.toDF("id", "name", "v"), Seq("id"),
        matched = mClauses.map(_._1),
        notMatched = nClauses.map(_._1),
        notMatchedBySource = bClauses.map(_._1))

      // reference semantics over the model
      val srcByKey = srcRows.map(r => r._1 -> (r._2, r._3)).toMap
      var next = Map.empty[Long, (String, Int)]
      for ((k, tv) <- model) srcByKey.get(k) match {
        case Some(sv) => // matched: first satisfied clause wins
          mClauses.find(_._2.eval(Some(tv), Some(sv))) match {
            case Some((_: Update, _, Some(st))) => next += k -> st.eval(tv, Some(sv))
            case Some((_: Delete, _, _)) => () // deleted
            case _ => next += k -> tv
          }
        case None => // not matched by source
          bClauses.find(_._2.eval(Some(tv), None)) match {
            case Some((_: Update, _, Some(st))) => next += k -> st.eval(tv, None)
            case Some((_: Delete, _, _)) => ()
            case _ => next += k -> tv
          }
      }
      for ((k, sv) <- srcByKey if !model.contains(k))
        nClauses.find(_._2.eval(None, Some(sv)))
          .foreach(_ => next += k -> sv)
      next
    }
  }

  /** One seeded upsert step: `kind` is "dup" (a duplicate key is forced),
    * "distinct" (no duplicate), "outside" (distinct keys all above the
    * table's bounds, so no file is touched) or "random" (duplicates as
    * they fall). The model's upsert: matched rows take every source
    * column, unmatched source rows are inserted, and any duplicate source
    * key raises and leaves the table unchanged. */
  private def upsertStep(rnd: scala.util.Random, tbl: LakeTable, model: Model,
                         step: Int, kind: String): Model = {
    val lo = if (kind == "outside") model.keys.maxOption.getOrElse(0L) + 100 else 0L
    val drawn = Seq.fill(1 + rnd.nextInt(8))(
      (lo + rnd.nextInt(45) + 1, s"u$step-${rnd.nextInt(99)}", rnd.nextInt(100)))
    val rows = kind match {
      case "dup" => drawn :+ drawn.head.copy(_2 = s"u$step-dup")
      case "random" => drawn
      case _ => drawn.distinctBy(_._1)
    }
    val src = rows.toDF("id", "name", "v")
    if (rows.map(_._1).distinct.size < rows.size) {
      val v = tbl.version
      val e = intercept[IllegalArgumentException](tbl.merge(src, Seq("id")))
      assert(e.getMessage.contains("Duplicate rows in merge source"))
      assert(tbl.version == v, s"step=$step: a rejected upsert committed")
      model
    } else {
      tbl.merge(src, Seq("id"))
      model ++ rows.map(r => r._1 -> (r._2, r._3))
    }
  }

  /** Upserts from an empty table on, interleaved with clause steps: step 1
    * is a duplicate-key upsert into the empty table, step 2 the first
    * upsert, step 3 an upsert touching no file. */
  private def runUpserts(seed: Long, steps: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    val tbl = newTable(s"mc_upsert_$seed")
    var model: Model = Map.empty
    for (step <- 1 to steps) {
      val kind = step match {
        case 1 => "dup"
        case 2 => "distinct"
        case 3 => "outside"
        case _ => Seq("clauses", "random", "outside")(rnd.nextInt(3))
      }
      model =
        if (kind == "clauses") clauseStep(rnd, tbl, model, step)
        else upsertStep(rnd, tbl, model, step, kind)
      assertAgrees(tbl, model, seed, step)
    }
  }

  test("random clause matrices agree with SQL merge reference semantics") {
    for (seed <- Seq(7L, 99L, 20260812L)) runSequence(seed, steps = 8)
  }

  test("seeded upserts agree with the model's upsert") {
    for (seed <- Seq(7L, 99L, 20260812L)) runUpserts(seed, steps = 10)
  }
}
