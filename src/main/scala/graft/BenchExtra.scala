package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Optimization-round helper bench (guide §1.4/§1.5): NOT the driver
  * contract — Bench.scala stays the frozen harness. This main
  *  - times individual queries with the noop sink (same action as Bench),
  *  - records /proc/loadavg before/after each query so a contaminated
  *    window is identifiable from the artifact alone,
  *  - optionally dumps .explain("formatted") per query to a directory.
  * A query whose run throws stops at that iteration, prints
  * `FAILED: <reason>` instead of timings and stays out of TOTAL(min), so a
  * failure never reads as a fast time.
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *   sbt "runMain graft.BenchExtra [q32_minhash_lsh,...] [explainDir] [iters]"
  */
object BenchExtra {
  private def loadavg(): String =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split(" ").take(3).mkString(",")
    catch { case _: Throwable => "?" }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val only: Set[String] =
      if (args.length > 0 && args(0).nonEmpty && args(0) != "-") args(0).split(",").toSet
      else SparkEntry.queries.keySet
    val explainDir = if (args.length > 1 && args(1).nonEmpty && args(1) != "-") Some(args(1)) else None
    val iters = if (args.length > 2) args(2).toInt else 3
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.sql.GraftFunctions.register(spark)

    explainDir.foreach(d => new java.io.File(d).mkdirs())
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.contains(name) }
      .map { case (name, fn) =>
        spark.sparkContext.setJobDescription(name)
        explainDir.foreach { d =>
          val plan = try fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          catch { case e: Throwable => s"explain failed: $e" }
          java.nio.file.Files.writeString(java.nio.file.Paths.get(d, s"$name.txt"), plan)
        }
        val la0 = loadavg()
        val ts = scala.collection.mutable.ArrayBuffer.empty[Double]
        var failure: Option[String] = None
        while (failure.isEmpty && ts.length < iters) {
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            ts += (System.nanoTime() - t0) / 1e9
          } catch { case NonFatal(e) => failure = Some(e.getClass.getSimpleName + ": " + e.getMessage) }
        }
        val la1 = loadavg()
        (name, ts.toSeq, failure, la0, la1)
      }
    results.foreach {
      case (name, _, Some(reason), la0, la1) =>
        println(f"$name%-28s FAILED: $reason load0=$la0 load1=$la1")
      case (name, ts, None, la0, la1) =>
        println(f"$name%-28s min=${ts.min}%8.3f med=${ts.sorted.apply(ts.length / 2)}%8.3f all=[${ts.map(t => f"$t%.3f").mkString(", ")}] load0=$la0 load1=$la1")
    }
    val failed = results.count(_._3.isDefined)
    println(s"TOTAL(min) ${results.filter(_._3.isEmpty).map(_._2.min).sum}")
    if (failed > 0) println(s"FAILED $failed of ${results.length} queries (left out of TOTAL)")
    spark.stop()
  }
}
