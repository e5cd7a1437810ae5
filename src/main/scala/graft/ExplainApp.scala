package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.FormattedMode

/** Dev utility: the formatted physical plan of catalog queries — the
  * per-operator "is this the plan I'd want at 100 TB" review: column
  * pruning (ReadSchema), filter pushdown (PushedFilters), exchange
  * count, broadcast placement, whole-stage-codegen spans. Plans come
  * from [[Bench.session]], so they are the plans Bench times.
  *
  * Usage: runMain graft.ExplainApp [--out <dir> <tag>] <name-or-prefix>...
  * Each argument matches any query whose name starts with it (q215
  * matches q215_range_join_rule). Plans print to stdout, or with
  * `--out` go to `<dir>/<name>_<tag>.txt` (the plan evidence committed
  * under plans/rNN/). SPARK_GRAFT_SF_DIR overrides the data dir,
  * SPARK_GRAFT_CPUS the core count. Queries that execute eager sub-jobs
  * during construction (iterative ops with checkpoint rings) show the
  * plan of the RETURNED DataFrame — the iteration subplans are behind
  * LogicalRDD checkpoint boundaries by design.
  */
object ExplainApp {
  def main(args: Array[String]): Unit = {
    val (out, prefixes) = args.toSeq match {
      case "--out" +: dir +: tag +: rest => (Some((dir, tag)), rest)
      case rest => (None, rest)
    }
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    out.foreach { case (d, _) => Files.createDirectories(Paths.get(d)) }
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => prefixes.exists(n.startsWith) }
      .foreach { case (name, fn) =>
        val plan =
          try fn(spark, dir).queryExecution.explainString(FormattedMode)
          catch { case e: Exception => s"EXPLAIN FAILED: ${e.getMessage}" }
        out match {
          case Some((d, tag)) =>
            Files.writeString(Paths.get(d, s"${name}_$tag.txt"), plan)
            System.err.println(s"[explain] wrote ${name}_$tag.txt")
          case None => println(s"===== $name =====\n$plan")
        }
      }
    spark.stop()
  }
}
