package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** RANDOMIZED DIFFERENTIAL PLAN FUZZING — the r14 verdict's third ask:
  * the 297 hand-written rows prove the declared inventory; this
  * generator proves the ENGINE. A seeded PRNG draws a random logical
  * plan (projection / filter / inner+left equi-join / hash aggregate /
  * distinct over the TPC-H-ish tables) from a grammar restricted to
  * the integer-exact, collation-free subset both engines evaluate
  * bit-identically, then renders it THREE independent ways:
  *
  *   - a DataFrame-DSL program (what [[FuzzSpec]] executes),
  *   - a Spark SQL string (FuzzSpec's in-JVM differential: two
  *     independent front-ends into one Catalyst),
  *   - a DuckDB SQL string (the cross-engine oracle — ten pinned
  *     seeds ship as fz* rows in SparkEntry, hash-gated like every
  *     other row).
  *
  * FuzzSpec sweeps 220 seeds per run (seeds are FIXED, so a failure
  * reproduces by number and its plan can be pinned as a named row).
  * The grammar is total: every drawn plan is valid, so a seed can
  * never fail "by construction" — only by a real divergence.
  *
  * Cross-engine discipline (the verify-skill rules, encoded in the
  * grammar): SUM casts to BIGINT on both sides (DuckDB HUGEINT),
  * arithmetic is BIGINT-cast before multiplying (DuckDB INT32
  * overflow), no doubles, no LIMIT without total order (none at all),
  * string literals from each column's real domain so filters are
  * non-vacuous at every SF. */
object Fuzz {

  /** splitmix64 — deterministic and JVM-stable, so seed k is the same
    * plan forever (java.util.Random would also do, but an explicit
    * mixer keeps the sequence portable to a non-JVM reimplementation). */
  final class Rng(seed: Long) {
    private var s = seed
    def nextLong(): Long = {
      s += 0x9e3779b97f4a7c15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def nextInt(n: Int): Int = Math.floorMod(nextLong(), n.toLong).toInt
    def pick[T](xs: Seq[T]): T = xs(nextInt(xs.size))
    def chance(pct: Int): Boolean = nextInt(100) < pct
  }

  sealed trait Kind
  case object IntK extends Kind
  case object StrK extends Kind

  /** `lits` are RENDERED literals (quoted for strings) from the
    * column's real domain at every SF. */
  final case class Col(name: String, kind: Kind, lits: Seq[String])
  final case class Tbl(name: String, cols: Seq[Col])

  private[operators] val Nation = Tbl("nation", Seq(
    Col("n_nationkey", IntK, Seq("5", "12", "20")),
    Col("n_regionkey", IntK, Seq("1", "2", "3")),
    Col("n_name", StrK, Seq("'NATION_3'", "'NATION_11'", "'NATION_17'"))))
  private[operators] val Customer = Tbl("customer", Seq(
    Col("c_custkey", IntK, Seq("40", "77", "120")),
    Col("c_nationkey", IntK, Seq("4", "9", "19")),
    Col("c_mktsegment", StrK,
      Seq("'BUILDING'", "'MACHINERY'", "'AUTOMOBILE'"))))
  private[operators] val Orders = Tbl("orders", Seq(
    Col("o_orderkey", IntK, Seq("100", "333", "512")),
    Col("o_custkey", IntK, Seq("15", "60", "140")),
    Col("o_orderstatus", StrK, Seq("'F'", "'O'", "'P'")),
    Col("o_orderpriority", StrK,
      Seq("'1-URGENT'", "'3-MEDIUM'", "'5-LOW'"))))

  /** (alias, column): every reference carries its side so the two SQL
    * renderings and the DataFrame program qualify identically. */
  final case class Ref(alias: String, col: Col) {
    def sql: String = s"$alias.${col.name}"
  }
  private def refCol(r: Ref): Column =
    org.apache.spark.sql.functions.col(s"${r.alias}.${r.col.name}")

  sealed trait Pred { def sql: String; def dfc: Column; def r: Ref }
  final case class Cmp(r: Ref, op: String, lit: String) extends Pred {
    def sql = s"${r.sql} $op $lit"
    def dfc = {
      val c = refCol(r)
      val v: Any =
        if (r.col.kind == IntK) lit.toLong else lit.stripPrefix("'").stripSuffix("'")
      op match {
        case "<" => c < v;  case "<=" => c <= v
        case ">" => c > v;  case ">=" => c >= v
        case "=" => c === v; case "<>" => c =!= v
        case other => sys.error(s"bad op $other")
      }
    }
  }
  final case class ModEq(r: Ref, k: Int, rem: Int) extends Pred {
    def sql = s"${r.sql} % $k = $rem"
    def dfc = refCol(r) % k === rem
  }
  final case class InList(r: Ref, lits: Seq[String]) extends Pred {
    def sql = s"${r.sql} IN (${lits.mkString(", ")})"
    def dfc = refCol(r).isin(
      lits.map(_.stripPrefix("'").stripSuffix("'")): _*)
  }

  sealed trait Proj { def name: String; def sql: String; def dfc: Column }
  final case class PCol(name: String, r: Ref) extends Proj {
    def sql = s"${r.sql} AS $name"
    def dfc = refCol(r).as(name)
  }
  /** CAST(col AS BIGINT) * m + a — BIGINT-cast FIRST (DuckDB INT32
    * arithmetic overflows; Spark silently widens). */
  final case class PArith(name: String, r: Ref, m: Long, a: Long)
    extends Proj {
    def sql = s"CAST(${r.sql} AS BIGINT) * $m + $a AS $name"
    def dfc = (refCol(r).cast("long") * m + a).as(name)
  }

  sealed trait Agg { def name: String; def sql: String; def dfc: Column }
  final case class ACnt(name: String) extends Agg {
    def sql = s"CAST(COUNT(*) AS BIGINT) AS $name"
    def dfc = count(lit(1)).cast("long").as(name)
  }
  final case class ASum(name: String, r: Ref) extends Agg {
    def sql = s"CAST(SUM(CAST(${r.sql} AS BIGINT)) AS BIGINT) AS $name"
    def dfc = sum(refCol(r).cast("long")).cast("long").as(name)
  }
  final case class AMin(name: String, r: Ref, mx: Boolean) extends Agg {
    def sql = s"${if (mx) "MAX" else "MIN"}(${r.sql}) AS $name"
    def dfc = (if (mx) max(refCol(r)) else min(refCol(r))).as(name)
  }
  final case class ACntD(name: String, r: Ref) extends Agg {
    def sql = s"CAST(COUNT(DISTINCT ${r.sql}) AS BIGINT) AS $name"
    def dfc = count_distinct(refCol(r)).cast("long").as(name)
  }

  /** (base table, join side). Join pairs are the model's two FKs. */
  final case class Join(tbl: Tbl, leftKey: String, rightKey: String,
    left: Boolean)

  final case class Plan(base: Tbl, join: Option[Join], preds: Seq[Pred],
      conjAnd: Boolean, groupBy: Seq[PCol], aggs: Seq[Agg],
      projs: Seq[Proj], distinct: Boolean) {

    private def whereSql: String =
      if (preds.isEmpty) ""
      else " WHERE " +
        preds.map(_.sql).mkString(if (conjAnd) " AND " else " OR ")

    /** One SQL text for BOTH engines; `prefix` namespaces the table
      * identifiers ("" = DuckDB's raw views, "fz_" = the Spark temp
      * views FuzzSpec registers). */
    def sql(prefix: String): String = {
      val from = s"FROM $prefix${base.name} b" + join.map { j =>
        val kind = if (j.left) "LEFT JOIN" else "JOIN"
        s" $kind $prefix${j.tbl.name} j ON b.${j.leftKey} = j.${j.rightKey}"
      }.getOrElse("")
      if (aggs.nonEmpty) {
        val sel = (groupBy.map(_.sql) ++ aggs.map(_.sql)).mkString(", ")
        val grp =
          if (groupBy.isEmpty) ""
          else " GROUP BY " + groupBy.map(_.r.sql).mkString(", ")
        s"SELECT $sel $from$whereSql$grp"
      } else {
        val d = if (distinct) "DISTINCT " else ""
        s"SELECT $d${projs.map(_.sql).mkString(", ")} $from$whereSql"
      }
    }

    /** The INDEPENDENT rendering: DataFrame DSL over the same logical
      * shape — what FuzzSpec diffs against the SQL text. */
    def frame(s: SparkSession, dir: String): DataFrame = {
      val b = graft.Tables(s, dir, base.name).alias("b")
      val joined = join.map { j =>
        val r = graft.Tables(s, dir, j.tbl.name).alias("j")
        b.join(r,
          org.apache.spark.sql.functions.col(s"b.${j.leftKey}") ===
            org.apache.spark.sql.functions.col(s"j.${j.rightKey}"),
          if (j.left) "left" else "inner")
      }.getOrElse(b)
      val filtered =
        if (preds.isEmpty) joined
        else joined.where(preds.map(_.dfc).reduce(
          (a, c) => if (conjAnd) a && c else a || c))
      if (aggs.nonEmpty) {
        if (groupBy.isEmpty) filtered.agg(aggs.head.dfc, aggs.tail.map(_.dfc): _*)
        else filtered.groupBy(groupBy.map(_.dfc): _*)
          .agg(aggs.head.dfc, aggs.tail.map(_.dfc): _*)
      } else {
        val p = filtered.select(projs.map(_.dfc): _*)
        if (distinct) p.distinct() else p
      }
    }
  }

  /** Draw the plan for `seed` — total: every seed yields a valid plan. */
  def plan(seed: Long): Plan = {
    val rng = new Rng(seed)
    // base + optional join (the model's two FK edges)
    val (base, join) =
      if (rng.chance(50)) {
        val left = rng.chance(30)
        if (rng.chance(50))
          (Orders, Some(Join(Customer, "o_custkey", "c_custkey", left)))
        else
          (Customer, Some(Join(Nation, "c_nationkey", "n_nationkey", left)))
      } else (rng.pick(Seq(Nation, Customer, Orders)), None)
    val sides: Seq[(String, Tbl)] =
      ("b", base) +: join.map(j => ("j", j.tbl)).toSeq
    def anyRef(): Ref = {
      val (a, t) = rng.pick(sides)
      Ref(a, rng.pick(t.cols))
    }
    def intRef(): Ref = {
      val (a, t) = rng.pick(sides)
      Ref(a, rng.pick(t.cols.filter(_.kind == IntK)))
    }
    // predicates: 0-2, AND/OR
    val nPreds = rng.nextInt(3)
    val preds = (0 until nPreds).map { _ =>
      val r = anyRef()
      r.col.kind match {
        case IntK =>
          rng.nextInt(3) match {
            case 0 => ModEq(r, 2 + rng.nextInt(6), rng.nextInt(2))
            case 1 => Cmp(r, rng.pick(Seq("<", "<=", ">", ">=")),
              rng.pick(r.col.lits))
            case _ => Cmp(r, rng.pick(Seq("=", "<>")), rng.pick(r.col.lits))
          }
        case StrK =>
          if (rng.chance(40)) InList(r, r.col.lits.take(2))
          else Cmp(r, rng.pick(Seq("=", "<>")), rng.pick(r.col.lits))
      }
    }
    val conjAnd = rng.chance(60)
    if (rng.chance(50)) {
      // aggregate shape: 0-2 group columns, 1-3 aggregates
      val gCols = (0 until rng.nextInt(3)).map(i =>
        PCol(s"g$i", anyRef())).distinctBy(_.r)
      val aggs = (0 until 1 + rng.nextInt(3)).map { i =>
        rng.nextInt(4) match {
          case 0 => ACnt(s"a$i")
          case 1 => ASum(s"a$i", intRef())
          case 2 => AMin(s"a$i", anyRef(), mx = rng.chance(50))
          case _ => ACntD(s"a$i", anyRef())
        }
      }
      Plan(base, join, preds, conjAnd, gCols, aggs, Seq.empty,
        distinct = false)
    } else {
      // projection shape: 1-3 exprs, optional DISTINCT
      val projs = (0 until 1 + rng.nextInt(3)).map { i =>
        if (rng.chance(35))
          PArith(s"p$i", intRef(), rng.pick(Seq(2L, 3L, 5L, 7L)),
            rng.nextInt(10).toLong)
        else PCol(s"p$i", anyRef())
      }
      Plan(base, join, preds, conjAnd, Seq.empty, Seq.empty, projs,
        distinct = rng.chance(30))
    }
  }

  /** STRUCTURAL SHRINKING (r15 verdict item 6 — "seeded, shrinking"):
    * a failing plan pins by seed, but a 6-operator repro hides which
    * operator matters. `shrink` walks simplification candidates —
    * drop the join (pruning every j-side reference with it), drop a
    * predicate, a group column, an aggregate, a projection, the
    * DISTINCT, or simplify an arithmetic projection / a composite
    * aggregate to its plain form — keeping a candidate only while the
    * failure predicate STILL fails, until no candidate fails. Greedy
    * first-failing with the most aggressive candidates first; every
    * candidate is a valid plan (the grammar's totality is preserved:
    * an emptied output list backfills a minimal column/count), so the
    * loop can never shrink into nonsense. The result is the smallest
    * still-failing plan along this lattice — typically the one
    * triggering operator plus a minimal output. */
  def shrink(p0: Plan, fails: Plan => Boolean): Plan = {
    require(fails(p0), "shrink needs a failing plan to start from")
    var cur = p0
    var progress = true
    while (progress) {
      shrinks(cur).find(fails) match {
        case Some(c) => cur = c
        case None => progress = false
      }
    }
    cur
  }

  /** One-step simplification candidates of `p`, most aggressive
    * first. All valid plans by construction. */
  def shrinks(p: Plan): Seq[Plan] = {
    def bOnly(r: Ref) = r.alias == "b"
    val minimalProj = PCol("p0", Ref("b", p.base.cols.head))
    // drop the join, and with it every j-side reference; backfill the
    // output if that empties it
    val dropJoin: Seq[Plan] = p.join.toSeq.map { _ =>
      val aggs2 = p.aggs.filter {
        case ACnt(_) => true
        case ASum(_, r) => bOnly(r)
        case AMin(_, r, _) => bOnly(r)
        case ACntD(_, r) => bOnly(r)
      }
      val isAgg = p.aggs.nonEmpty
      p.copy(join = None,
        preds = p.preds.filter(pr => bOnly(pr.r)),
        groupBy = p.groupBy.filter(g => bOnly(g.r)),
        aggs = if (isAgg && aggs2.isEmpty) Seq(ACnt("a0")) else aggs2,
        projs = {
          val ps = p.projs.filter {
            case PCol(_, r) => bOnly(r)
            case PArith(_, r, _, _) => bOnly(r)
          }
          if (!isAgg && ps.isEmpty) Seq(minimalProj) else ps
        })
    }
    val dropPreds = p.preds.indices.map(i =>
      p.copy(preds = p.preds.patch(i, Nil, 1)))
    val dropGroups = p.groupBy.indices.map(i =>
      p.copy(groupBy = p.groupBy.patch(i, Nil, 1)))
    val dropAggs =
      if (p.aggs.size > 1) p.aggs.indices.map(i =>
        p.copy(aggs = p.aggs.patch(i, Nil, 1)))
      else Seq.empty
    val dropProjs =
      if (p.projs.size > 1) p.projs.indices.map(i =>
        p.copy(projs = p.projs.patch(i, Nil, 1)))
      else Seq.empty
    val dropDistinct =
      if (p.distinct) Seq(p.copy(distinct = false)) else Seq.empty
    // simplify-in-place: arithmetic projection → plain column,
    // composite aggregate → COUNT(*)
    val simplifyProjs = p.projs.zipWithIndex.collect {
      case (PArith(n, r, _, _), i) =>
        p.copy(projs = p.projs.updated(i, PCol(n, r)))
    }
    val simplifyAggs = p.aggs.zipWithIndex.collect {
      case (a, i) if !a.isInstanceOf[ACnt] =>
        p.copy(aggs = p.aggs.updated(i, ACnt(a.name)))
    }
    dropJoin ++ dropPreds ++ dropGroups ++ dropAggs ++ dropProjs ++
      dropDistinct ++ simplifyProjs ++ simplifyAggs
  }

  /** Ten pinned seeds promoted to first-class rows: the full
    * cross-engine (DuckDB) hash gate over fuzz-drawn plans. Chosen to
    * cover both join edges, left joins, global + grouped aggregates,
    * DISTINCT, and multi-predicate filters (see FuzzSpec's coverage
    * assertion for the sweep-wide distribution). */
  val PinnedSeeds: Seq[Long] = Seq(1, 2, 9, 11, 19, 42, 44, 57, 71, 104)

  private def rowName(i: Int, seed: Long) = f"fz${i + 1}%02d_fuzz_s$seed"

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.GraftSession.prepared(PinnedSeeds.zipWithIndex.map { case (seed, i) =>
      rowName(i, seed) ->
        ((s: SparkSession, d: String) => plan(seed).frame(s, d))
    }.toMap)

  val oracles: Map[String, String] =
    PinnedSeeds.zipWithIndex.map { case (seed, i) =>
      rowName(i, seed) -> plan(seed).sql("")
    }.toMap
}
