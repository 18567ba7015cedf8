package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** EXTENDED FUZZ GRAMMAR — set operations and window functions, the
  * two shapes the r15 verdict flagged as outside [[Fuzz]]'s scope. A
  * SEPARATE seeded generator (not new branches in `Fuzz.plan`): the
  * ten fz* rows are pinned by their seeds' exact RNG streams, and any
  * added draw would re-deal every pinned plan and invalidate their
  * committed oracle hashes — so the extension gets its own stream and
  * its own pinned rows (`fw01`/`fw02`).
  *
  * Shapes (both total — every seed is a valid plan):
  *   - SET OP: two single-table projections sharing ONE projection
  *     list (schema equality by construction, which
  *     INTERSECT/EXCEPT demand) differing only in their predicates,
  *     combined by UNION ALL / UNION / INTERSECT / EXCEPT. The keyword
  *     forms are DISTINCT-semantics in both engines (Spark
  *     union+distinct / intersect / except match the SQL text
  *     exactly).
  *   - WINDOW: RANK / DENSE_RANK / ROW_NUMBER / running SUM / LAG over
  *     PARTITION BY any column, ORDER BY the table's UNIQUE key —
  *     uniqueness makes every function deterministic (no peer-row
  *     ambiguity; the running SUM's default RANGE frame degenerates to
  *     ROWS). Sums BIGINT-cast on both sides (DuckDB HUGEINT).
  *
  * Rendered the same three ways as [[Fuzz]]: DataFrame DSL, Spark SQL
  * (FuzzExtSpec's in-JVM differential), DuckDB SQL (the pinned rows'
  * cross-engine oracle). */
object FuzzExt {
  import Fuzz.{Col, IntK, PArith, PCol, Plan => _, Pred, Proj, Ref, Rng, Tbl}

  /** The table's unique key (first column of each model table) —
    * the window order key that makes every draw deterministic. */
  private def keyCol(t: Tbl): Col = t.cols.head

  sealed trait XPlan {
    def sql(prefix: String): String
    def frame(s: SparkSession, dir: String): DataFrame
  }

  /** `(SELECT p FROM t WHERE a) <op> (SELECT p FROM t WHERE b)`. */
  final case class SetPlan(base: Tbl, projs: Seq[Proj], op: String,
      predA: Option[Pred], predB: Option[Pred]) extends XPlan {
    private def side(prefix: String, p: Option[Pred]) =
      s"SELECT ${projs.map(_.sql).mkString(", ")} FROM " +
        s"$prefix${base.name} b" + p.map(x => s" WHERE ${x.sql}").getOrElse("")
    def sql(prefix: String): String =
      s"${side(prefix, predA)} $op ${side(prefix, predB)}"
    def frame(s: SparkSession, dir: String): DataFrame = {
      def sideDf(p: Option[Pred]): DataFrame = {
        val b = graft.Tables(s, dir, base.name).alias("b")
        p.fold(b)(x => b.where(x.dfc)).select(projs.map(_.dfc): _*)
      }
      val (a, b) = (sideDf(predA), sideDf(predB))
      op match {
        case "UNION ALL" => a.union(b)
        case "UNION" => a.union(b).distinct()
        case "INTERSECT" => a.intersect(b)
        case "EXCEPT" => a.except(b)
        case other => sys.error(s"bad set op $other")
      }
    }
  }

  sealed trait WFunc { def name: String; def sql(w: String): String
    def dfc(w: org.apache.spark.sql.expressions.WindowSpec): Column }
  final case class WRank(name: String, dense: Boolean) extends WFunc {
    def sql(w: String) =
      s"CAST(${if (dense) "DENSE_RANK" else "RANK"}() OVER ($w) AS " +
        s"BIGINT) AS $name"
    def dfc(w: org.apache.spark.sql.expressions.WindowSpec) =
      (if (dense) dense_rank() else rank()).over(w).cast("long").as(name)
  }
  final case class WRowNum(name: String) extends WFunc {
    def sql(w: String) = s"CAST(ROW_NUMBER() OVER ($w) AS BIGINT) AS $name"
    def dfc(w: org.apache.spark.sql.expressions.WindowSpec) =
      row_number().over(w).cast("long").as(name)
  }
  final case class WSum(name: String, r: Ref) extends WFunc {
    def sql(w: String) =
      s"CAST(SUM(CAST(${r.sql} AS BIGINT)) OVER ($w) AS BIGINT) AS $name"
    def dfc(w: org.apache.spark.sql.expressions.WindowSpec) =
      sum(col(s"${r.alias}.${r.col.name}").cast("long")).over(w)
        .cast("long").as(name)
  }
  final case class WLag(name: String, r: Ref) extends WFunc {
    def sql(w: String) = s"LAG(${r.sql}, 1) OVER ($w) AS $name"
    def dfc(w: org.apache.spark.sql.expressions.WindowSpec) =
      lag(col(s"${r.alias}.${r.col.name}"), 1).over(w).as(name)
  }

  /** `SELECT key, part, <funcs OVER (PARTITION BY part ORDER BY key)>
    * FROM t WHERE pred`. */
  final case class WinPlan(base: Tbl, part: Col, funcs: Seq[WFunc],
      pred: Option[Pred]) extends XPlan {
    private def over =
      s"PARTITION BY b.${part.name} ORDER BY b.${keyCol(base).name}"
    def sql(prefix: String): String =
      s"SELECT b.${keyCol(base).name} AS k0, b.${part.name} AS p0, " +
        funcs.map(_.sql(over)).mkString(", ") +
        s" FROM $prefix${base.name} b" +
        pred.map(x => s" WHERE ${x.sql}").getOrElse("")
    def frame(s: SparkSession, dir: String): DataFrame = {
      val b = graft.Tables(s, dir, base.name).alias("b")
      val filtered = pred.fold(b)(x => b.where(x.dfc))
      val w = Window.partitionBy(col(s"b.${part.name}"))
        .orderBy(col(s"b.${keyCol(base).name}"))
      filtered.select(Seq(
        col(s"b.${keyCol(base).name}").as("k0"),
        col(s"b.${part.name}").as("p0")) ++ funcs.map(_.dfc(w)): _*)
    }
  }

  private def drawPred(rng: Rng, base: Tbl): Option[Pred] = {
    if (!rng.chance(70)) return None
    val r = Ref("b", rng.pick(base.cols))
    Some(r.col.kind match {
      case IntK =>
        if (rng.chance(50))
          Fuzz.ModEq(r, 2 + rng.nextInt(5), rng.nextInt(2))
        else Fuzz.Cmp(r, rng.pick(Seq("<", "<=", ">", ">=", "=", "<>")),
          rng.pick(r.col.lits))
      case _ =>
        if (rng.chance(40)) Fuzz.InList(r, r.col.lits.take(2))
        else Fuzz.Cmp(r, rng.pick(Seq("=", "<>")), rng.pick(r.col.lits))
    })
  }

  /** Draw the extended plan for `seed` — total, like the core
    * grammar. */
  def plan(seed: Long): XPlan = {
    val rng = new Rng(seed ^ 0x5eedface5eedL)
    val base = rng.pick(Seq(Fuzz.Nation, Fuzz.Customer, Fuzz.Orders))
    if (rng.chance(50)) {
      val projs: Seq[Proj] = (0 until 1 + rng.nextInt(2)).map { i =>
        if (rng.chance(30))
          PArith(s"p$i",
            Ref("b", rng.pick(base.cols.filter(_.kind == IntK))),
            rng.pick(Seq(2L, 3L, 5L)), rng.nextInt(10).toLong)
        else PCol(s"p$i", Ref("b", rng.pick(base.cols)))
      }
      SetPlan(base, projs,
        rng.pick(Seq("UNION ALL", "UNION", "INTERSECT", "EXCEPT")),
        drawPred(rng, base), drawPred(rng, base))
    } else {
      val part = rng.pick(base.cols.filter(_ != keyCol(base)))
      val funcs: Seq[WFunc] = (0 until 1 + rng.nextInt(2)).map { i =>
        rng.nextInt(5) match {
          case 0 => WRank(s"w$i", dense = false)
          case 1 => WRank(s"w$i", dense = true)
          case 2 => WRowNum(s"w$i")
          case 3 => WSum(s"w$i",
            Ref("b", rng.pick(base.cols.filter(_.kind == IntK))))
          case _ => WLag(s"w$i", Ref("b", rng.pick(base.cols)))
        }
      }
      WinPlan(base, part, funcs, drawPred(rng, base))
    }
  }

  /** Pinned seeds promoted to rows: one set-op and one window shape,
    * DuckDB-hash-gated like the fz* family (texts pinned in
    * FuzzExtSpec so a generator drift trips before the driver). */
  val Pinned: Seq[(String, Long)] = Seq(
    ("fw01_fuzz_setop", 20L), ("fw02_fuzz_window", 3L))

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.GraftSession.prepared(Pinned.map { case (name, seed) =>
      name -> ((s: SparkSession, d: String) => plan(seed).frame(s, d))
    }.toMap)

  val oracles: Map[String, String] =
    Pinned.map { case (name, seed) => name -> plan(seed).sql("") }.toMap
}
