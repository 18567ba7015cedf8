package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Bucketed-table utilities (builder-prompt "bucketing for co-located
  * joins").
  *
  * Writing both sides of a recurring fact-fact join bucketed by the
  * join key (same bucket count) lets Spark plan the join with ZERO
  * exchanges: each bucket pair joins locally. On a 100 TB fact table
  * joined daily, pre-bucketing converts every run's full-table shuffle
  * into a scan — the shuffle is paid once at write time.
  *
  * Bucketing requires the catalog (`saveAsTable`); plain
  * `.parquet(path)` writes cannot carry bucket metadata.
  */
object Bucketing {

  /** Write `df` as a bucketed, catalog-registered table. An explicit
    * `path` makes it an external table (keeps driver-run sessions from
    * writing a spark-warehouse dir into the working directory). */
  def writeBucketed(df: DataFrame, db: String, table: String,
      bucketCol: String, nBuckets: Int, sortCols: Seq[String] = Nil,
      path: Option[String] = None): Unit = {
    df.sparkSession.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    var w = df.write
      .mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(nBuckets, bucketCol)
    path.foreach(p => w = w.option("path", p))
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(s"$db.$table")
  }

  /** Join two same-bucketed tables on the bucket key — plans with no
    * Exchange on either side (see BucketingSpec's plan assertion). */
  def coLocatedJoin(spark: SparkSession, db: String, left: String,
      right: String, leftKey: String, rightKey: String): DataFrame = {
    val l = spark.table(s"$db.$left")
    val r = spark.table(s"$db.$right")
    l.join(r, l(leftKey) === r(rightKey))
  }

  /** Ensure the bucketed lineitem/orders copies of `sfDir` exist in the
    * session catalog (writes once per session/scale, under tmpdir). */
  private def ensureBucketedCopies(s: SparkSession, d: String): String = {
    val tag = graft.Scratch.tag(d)
    val db = s"graft_buckets_$tag"
    if (!s.catalog.databaseExists(db) || !s.catalog.tableExists(s"$db.lineitem_b")) {
      val base = graft.Scratch.dir(s, "graft_buckets", tag)
      writeBucketed(graft.Tables(s, d, "orders"), db, "orders_b",
        "o_orderkey", 8, Seq("o_orderkey"), Some(s"$base/orders_b"))
      writeBucketed(graft.Tables(s, d, "lineitem"), db, "lineitem_b",
        "l_orderkey", 8, Seq("l_orderkey"), Some(s"$base/lineitem_b"))
    }
    db
  }

  /** q34: the bucketed co-located fact-fact join as a driver-visible
    * CORRECTNESS row (round 1 had only the sbt plan assertion). The
    * bucket write is the once-per-dataset cost (amortized across a
    * session — the bench's min-of-2 measures the steady state: a join
    * with ZERO exchanges on either side); the oracle is the plain join,
    * which bucketing must not change. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.GraftSession.prepared(Map(
    "q34_bucketed_join" -> ((s, d) => {
      val db = ensureBucketedCopies(s, d)
      coLocatedJoin(s, db, "lineitem_b", "orders_b", "l_orderkey", "o_orderkey")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast(LongType)).as("sum_qty"))
        .orderBy(col("o_orderpriority"))
    })
  ))

  val oracles: Map[String, String] = Map(
    "q34_bucketed_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
  )
}
