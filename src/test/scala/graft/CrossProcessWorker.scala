package graft

import org.apache.spark.sql.SparkSession

/** Forked-JVM worker for [[CrossProcessCommitSpec]]: a SECOND driver
  * process committing SQL DML against the shared warehouse passed as
  * its `graft_dml` catalog's `warehouse` option
  * (`-Dspark.sql.catalog.graft_dml.warehouse`). Each program argument
  * is one SQL statement, executed in order against a fresh local
  * session with that catalog registered. Exits 0 on success; any
  * failure prints its stack to stderr and exits 1 (the spec asserts
  * on the exit code, so a worker-side OCC refusal is observable). */
/** Shared forking helper for the cross-process and crash specs. */
object XProc {
  /** Fork a [[CrossProcessWorker]] JVM against `root`, running `sqls`
    * in order. `props` adds extra `-D` system properties (e.g. the
    * crash spec's `graft.halt.at` seam selector). */
  def fork(root: String, sqls: Seq[String],
      props: Map[String, String] = Map.empty): Process = {
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar",
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cmd = Seq(javaBin) ++ addOpens ++ Seq(
      "-Xmx2g",
      s"-Dspark.sql.catalog.graft_dml.warehouse=$root",
      "-Dspark.ui.enabled=false") ++
      props.map { case (k, v) => s"-D$k=$v" } ++ Seq(
      "-cp", System.getProperty("java.class.path"),
      "graft.CrossProcessWorker") ++ sqls
    new ProcessBuilder(cmd: _*).inheritIO().start()
  }

  /** Run `body` on a session of the shared test application whose
    * `graft_dml` catalog is rooted at `root` — the warehouse [[fork]]ed
    * workers share — as the thread's active session, then delete
    * `root`. Table keys, and so every on-disk path under the root,
    * stay the ones the workers use. */
  def withWarehouse(root: String)(body: SparkSession => Unit): Unit = {
    val s = SparkSuite.spark.newSession()
    s.conf.set("spark.sql.catalog.graft_dml", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_dml.warehouse", root)
    SparkSession.setActiveSession(s)
    try body(s)
    finally {
      SparkSession.setActiveSession(SparkSuite.spark)
      Scratch.deleteTree(root)
    }
  }

  /** Wait for the worker and assert it exited with `expect`. */
  def await(p: Process, expect: Int = 0): Unit = {
    assert(p.waitFor(300, java.util.concurrent.TimeUnit.SECONDS),
      "worker JVM timed out")
    assert(p.exitValue() == expect,
      s"worker JVM exited ${p.exitValue()}, expected $expect")
  }
}

object CrossProcessWorker {
  def main(args: Array[String]): Unit = {
    val code =
      try {
        val s = SparkSession.builder()
          .master("local[2]")
          .appName("graft-xproc-worker")
          .config("spark.sql.shuffle.partitions", "2")
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.ui.enabled", "false")
          .config("spark.sql.catalog.graft_dml",
            "graft.sources.GraftCatalog")
          .getOrCreate()
        s.sparkContext.setLogLevel("WARN")
        // -Dgraft.halt.at=preCommit|prePublish: install a hook that
        // HALTS the JVM (Runtime.halt — no shutdown hooks, no cleanup,
        // the real kill) at the named commit seam of this session's
        // lake. CrashRecoverySpec uses this to crash a writer between
        // its data-file writes and its manifest publish and assert the
        // landed files stay invisible.
        val lake = graft.sources.RowStore.of(s)
        sys.props.get("graft.halt.at").foreach {
          case "preCommit" =>
            lake.preCommitHook = () => Runtime.getRuntime.halt(42)
          case "prePublish" =>
            lake.prePublishHook = () => Runtime.getRuntime.halt(42)
          case other => sys.error(s"unknown halt seam: $other")
        }
        args.foreach(sql => s.sql(sql).collect())
        s.stop()
        0
      } catch { case t: Throwable => t.printStackTrace(); 1 }
    sys.exit(code)
  }
}
