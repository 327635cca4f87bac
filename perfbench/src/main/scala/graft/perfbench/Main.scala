package graft.perfbench

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.SparkSession

final case class Options(workload: String, seed: Long, seconds: Int,
    trace: Boolean, dataDir: String, outDir: Path, expected: Path,
    record: Option[Path], cores: Int)

final case class Outcome(correct: Boolean, attempted: Long, failed: Long,
    metrics: Seq[Json.Metric])

/** Entry point of the benchmark JVM; `perfbench/run.py` builds the
  * classpath and the input tables and passes their locations here.
  *
  *   --workload relational|corpus|stream_events --seed N --seconds S
  *   --trace 0|1 --data DIR --out DIR [--expected FILE] [--record FILE]
  *
  * Prints the result line last on stdout; everything else goes to
  * stderr.
  */
object Main {

  val Cores = 4

  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // the same sort-merge -> shuffled-hash bound graft.Bench runs with
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.GraftOps.install(spark)
    spark
  }

  def parse(args: Array[String]): Options = {
    require(args.length % 2 == 0, s"expected --key value pairs: ${args.mkString(" ")}")
    val m = args.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"expected --key, got $k"); k.drop(2) -> v
    }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = get("workload")
    Options(workload, get("seed").toLong, get("seconds").toInt,
      get("trace") match { case "0" => false; case "1" => true },
      get("data"), Paths.get(get("out")),
      Paths.get(m.getOrElse("expected", s"expected/$workload.tsv")),
      m.get("record").map(Paths.get(_)), Cores)
  }

  def main(args: Array[String]): Unit = {
    val startMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val code = try {
      val o = parse(args)
      val spark = session()
      System.err.println(f"[perfbench] session ready after ${(System.currentTimeMillis() - startMs) / 1e3}%.2f s")
      val out = try o.workload match {
        case "relational" | "corpus" => BatchBench.run(spark, o, startMs)
        case "stream_events" => StreamBench.run(spark, o, startMs)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      } finally spark.stop()
      val catalogue = if (o.trace) Catalog.perLayer else Catalog.endToEnd
      println(Json.resultLine(out.correct, out.attempted, out.failed,
        Catalog.complete(catalogue, out.metrics)))
      0
    } catch { case e: Throwable =>
      e.printStackTrace()
      1
    }
    // Spark can leave non-daemon threads behind; do not wait for them
    System.exit(code)
  }
}
