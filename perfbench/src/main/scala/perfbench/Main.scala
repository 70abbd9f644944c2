package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: build the session, set up the workload
  * (untimed warm-up included), run whole passes of it for at least
  * `--seconds`, check its outputs, and write everything measured to
  * `<work>/result.json`. `run.py` turns that file into the metrics.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --data <dir holding sf0.1/> --work <scratch dir> --cpus <n>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val setupStart = System.nanoTime()
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val work = opts("work")
    val cpus = opts("cpus")
    val dataDir = s"${opts("data")}/sf0.1"
    require(Files.isRegularFile(Paths.get(dataDir, "lineitem.parquet")),
      s"no test tables under $dataDir")

    val spark = session(cpus, work)
    val tracer = new Tracer(spark, opts("trace") == "1")
    val result =
      try Workloads.registry.get(workload) match {
        case Some((queries, reps)) =>
          RegistryMix.run(spark, tracer, queries, reps, dataDir, seed, seconds, work,
            setupStart)
        case None if workload == CommitStream.Name =>
          CommitStream.run(spark, tracer, seed, seconds, work, setupStart)
        case None => sys.error(s"unknown workload $workload")
      } finally {
        spark.sparkContext.setLogLevel("ERROR")
        spark.stop()
      }
    val out = result ++ Map("workload" -> workload, "seed" -> seed, "cpus" -> cpus.toInt,
      "rss_hwm_kb" -> vmHwmKb(), "trace" -> (if (tracer.enabled) tracer.dump() else null))
    Files.writeString(Paths.get(work, "result.json"), toJson(out))
  }

  /** `v` as JSON: maps, sequences, options and JVM scalars nest freely. */
  def toJson(v: Any): String =
    org.json4s.jackson.Serialization.write(v.asInstanceOf[AnyRef])(org.json4s.DefaultFormats)

  /** The session `graft.Bench` builds, with Spark's scratch space kept
    * under the run's work directory, plus `extra` settings.
    */
  def session(cpus: String, work: String,
              extra: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config(extra)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Milliseconds this JVM has spent in garbage collection so far. */
  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
  }

  /** Peak resident set size of this JVM, from /proc. */
  private def vmHwmKb(): Long = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
  }
}

/** The registry query mixes, in canonical order (the seed shuffles it),
  * each with how many times in a row a timed pass runs each query.
  */
object Workloads {
  val registry: Map[String, (Seq[String], Int)] = Map(
    // short analytics: aggregates, semi/anti/outer/band/as-of joins, set
    // ops, rollup/cube, windows, JSON, pivot, the reference ETL
    "read_mix" -> (Seq("q01_pricing_summary", "q04_order_priority",
      "q07_customers_no_orders", "q08_outer_join_fill", "q09_band_join",
      "q10_asof_join", "q11_dedup_keep_last", "q14_setops", "q16_rollup",
      "q17_cube", "q19_count_distinct", "q20_window_sma", "q22_rank_topn",
      "q25_json_extract", "q29_pivot", "q61_reference_etl",
      "q86_bloom_pruned_join", "q104_ema"), 1),
    // the north-star data operators: dedup, similarity, ANN, BPE
    "llm_ops" -> (Seq("q35_simhash_neardup", "q37_cosine_topk",
      "q161_ivfpq_ann", "q266_ivfpq_artifact", "q284_bpe_token_ids"), 2))
}
