package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** The one owner of session setup.
  *
  *  - [[builder]] is the configuration every graft main (Bench, Verify,
  *    Profile, Explain) and the shared test session start from.
  *  - [[prepare]] installs what the query rows need on a session: the
  *    custom functions of [[graft.functions.FunctionCatalog]] and the
  *    `graft_dml` lake catalog. It is idempotent, so a resident session
  *    serving many short queries pays for it once.
  *  - [[prepared]] wraps a query registry so every row prepares its
  *    session first. Rows therefore also run on a session graft did not
  *    build, such as one a benchmark harness configures itself.
  *
  * Pure-SQL deployments that never run a row get the functions from
  * [[graft.GraftExtensions]] instead.
  */
object GraftSession {

  type Rows = Map[String, (SparkSession, String) => DataFrame]

  private def envCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(4)

  /** `local[cores]` with as many shuffle partitions, UTC, AQE on, UI
    * off, the raw local FileContext, then any `SPARK_GRAFT_EXTRA_CONF`
    * ("k=v;k2=v2") overrides. */
  def builder(cores: Int = envCores): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // Bypass Hadoop's checksum layer on the FILECONTEXT route
      // (guide §6 / OPTIMIZATION_r16.md): streaming checkpoint IO —
      // offset log, commit log, and one HDFS-backed state-store delta
      // per partition per batch — goes through CheckpointFileManager's
      // FileContext, whose default local impl wraps ChecksumFs: a
      // second buffered stream plus a .crc sidecar written AND
      // re-verified per tiny file, pure overhead this deployment
      // doesn't need (at 100 TB checkpoints live on an object store
      // whose FS impl has no such layer). Measured at sf0.1/32:
      // st14 2.73→2.13 s, st03 1.48→1.25 s, batch rows neutral;
      // results byte-identical — Verify runs under the SAME config
      // and stays 319/319 oracle-exact. The FileSystem-route knob
      // (fs.file.impl=RawLocalFileSystem) is deliberately NOT set:
      // RocksDB's checkpoint file manager aborts commits under it
      // (19 task aborts on st07 in the A/B), and its marginal win on
      // top of this knob measured ~4%.
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        "org.apache.hadoop.fs.local.RawLocalFs")
    // A/B experiment channel: unset, the session is exactly the config
    // above, so no timing logic, query set or output change rides it.
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(';')
      .filter(_.contains('=')).foreach { kv =>
        val Array(k, v) = kv.split("=", 2); b.config(k, v) })
    b
  }

  /** Gets or creates the session `b` describes, sets its log level to
    * WARN and prepares it. */
  def start(b: SparkSession.Builder = builder()): SparkSession = {
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    prepare(s)
    s
  }

  /** Installs every catalog function `s` lacks and points the
    * `graft_dml` catalog at [[graft.sources.GraftCatalog]]. Functions
    * already present are left alone: re-registering one replaces it and
    * logs a warning per name. */
  def prepare(s: SparkSession): Unit = {
    val registry = s.sessionState.functionRegistry
    val missing = functions.FunctionCatalog.builders.map(_._1)
      .filterNot(n => registry.functionExists(FunctionIdentifier(n)))
    if (missing.nonEmpty) functions.FunctionCatalog.register(s, missing: _*)
    s.conf.set("spark.sql.catalog.graft_dml", "graft.sources.GraftCatalog")
  }

  /** Runs `body` with `confs` set on `s`, then restores each key's
    * prior value (or unsets it). `body` must EXECUTE its plans, not
    * just construct them, for the confs to apply. */
  def withConfs[T](s: SparkSession, confs: Map[String, String])(body: => T): T = {
    val saved = confs.keys.map(k => k -> s.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  /** `rows`, each of which prepares its session before it runs. */
  def prepared(rows: Rows): Rows = rows.map { case (name, row) =>
    name -> ((s: SparkSession, d: String) => { prepare(s); row(s, d) })
  }
}
