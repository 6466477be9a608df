package graft.tools

import graft.SparkEntry

/** Dev tool: time one query under the Bench session config (local[32],
  * 32 shuffle partitions) without paying for the full surface — the
  * iterate-on-one-operator loop Bench is too slow for.
  * Usage: runMain graft.tools.TimeQuery <queryName> [sfDir] [reps]
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q_agg_hash")
    val sfDir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.drop(2).headOption.map(_.toInt).getOrElse(3)
    val spark = DevSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    // one untimed warmup absorbs session/codegen start-up cost
    SparkEntry.queries(name)(spark, sfDir).count()
    val times = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).count()
      (System.nanoTime() - t0) / 1e9
    }
    println(f"TIMES=${times.map(t => f"$t%.3f").mkString(",")} MIN=${times.min}%.3f")
    spark.stop()
  }
}
