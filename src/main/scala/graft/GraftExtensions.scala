package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Deploy-time entry point: `--conf spark.sql.extensions=graft.GraftExtensions`
  * injects the library's full custom-function catalog (sketches,
  * portable hashes, vector ops, the shingle UDTF, the top-k UDAF) into
  * every session built from that config — including Thrift-server /
  * pure-SQL sessions that never run a query row, so never run
  * [[graft.GraftSession.prepare]]. Both read
  * [[graft.functions.FunctionCatalog]], so function semantics match.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    functions.FunctionCatalog.builders.foreach { case (name, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), builder))
    }
}
