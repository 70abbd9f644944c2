package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.SparkEntry
import graft.util.{Caches, DmlTimer}

/** A closed loop with one client over registered queries.
  *
  * Set-up is the session plus one untimed pass over every query, which
  * also writes each result as Parquet for the oracle check and records its
  * digest. Timed passes then run the queries in a seeded order, each one
  * built by its registry function and materialized through the `noop`
  * sink `reps` times in a row: one pass at least, and more until
  * `seconds` have passed. A full GC before each run of a query, outside its
  * timing, keeps one run's garbage from being collected inside the next
  * one's. Every timed result's digest must equal the warm-up pass's.
  */
object RegistryMix {

  def run(spark: SparkSession, tracer: Tracer, queries: Seq[String], reps: Int,
          dataDir: String, seed: Long, seconds: Double, work: String,
          setupStart: Long): Map[String, Any] = {
    val reference = scala.collection.mutable.Map.empty[String, Seq[Any]]
    val setupErrors = scala.collection.mutable.Map.empty[String, String]
    val sessionS = (System.nanoTime() - setupStart) / 1e9
    new Random(seed).shuffle(queries).foreach { q =>
      try {
        val (df, obs) = observed(SparkEntry.queries(q)(spark, dataDir), q)
        df.write.mode("overwrite").parquet(s"$work/out/$q")
        reference(q) = digest(obs)
      } catch { case e: Throwable => setupErrors(q) = message(e) }
      release(spark)
    }
    val setupS = (System.nanoTime() - setupStart) / 1e9

    val ops = ArrayBuffer.empty[Map[String, Any]]
    tracer.start()
    val windowStart = System.nanoTime()
    tracer.span("run") {
      var pass = 0
      while (pass == 0 || (System.nanoTime() - windowStart) / 1e9 < seconds) {
        pass += 1
        tracer.span("pass") {
          new Random(seed * 1000003L + pass).shuffle(queries).foreach { q =>
            (1 to reps).foreach { _ =>
              System.gc()
              ops += timedOp(spark, tracer, q, dataDir, pass, reference.get(q))
            }
          }
        }
      }
    }
    val windowS = (System.nanoTime() - windowStart) / 1e9
    tracer.stop()

    Map("setup_s" -> setupS, "window_s" -> windowS, "ops" -> ops.toSeq,
      "phases_s" -> Map("session" -> sessionS, "warmup" -> (setupS - sessionS)),
      "setup_errors" -> setupErrors.toMap,
      "oracle_sql" -> queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap)
  }

  private def timedOp(spark: SparkSession, tracer: Tracer, q: String, dataDir: String,
                      pass: Int, expected: Option[Seq[Any]]): Map[String, Any] = {
    if (tracer.active) DmlTimer.readAndResetSec()
    val gc0 = Main.gcMs()
    val t0 = System.nanoTime()
    val outcome: Either[String, Seq[Any]] = tracer.span(s"op:$q") {
      try {
        val built = tracer.span("entry.build")(SparkEntry.queries(q)(spark, dataDir))
        // the registry function's Dataset was analyzed when it was built;
        // the listener sees only the write's own query execution
        if (tracer.active) tracer.add("plans.entry_analysis_ms",
          built.queryExecution.tracker.phases.get("analysis").map(_.durationMs.toDouble)
            .getOrElse(0.0))
        val (df, obs) = observed(built, q)
        tracer.span("exec.action")(df.write.format("noop").mode("overwrite").save())
        if (tracer.active) tracer.max("util.cached_bytes_peak", cachedBytes(spark))
        Right(digest(obs))
      } catch { case e: Throwable => Left(message(e)) }
      finally tracer.span("util.release")(release(spark))
    }
    val ms = (System.nanoTime() - t0) / 1e6
    val gcMs = Main.gcMs() - gc0
    if (tracer.active) {
      val dml = DmlTimer.readAndResetSec()
      tracer.add("sources.commit_ms", dml * 1000)
      if (dml > 0) tracer.add("sources.commits", 1)
    }
    val error = outcome match {
      case Left(e) => Some(e)
      case Right(d) if !expected.contains(d) =>
        Some(s"digest ${d.mkString("/")} differs from the warm-up pass's " +
          expected.map(_.mkString("/")).getOrElse("(none: warm-up failed)"))
      case _ => None
    }
    Map("name" -> q, "kind" -> "query", "pass" -> pass, "ms" -> ms, "gc_ms" -> gcMs,
      "ok" -> error.isEmpty, "error" -> error)
  }

  /** `df` with an order-insensitive digest (row count and the sum of each
    * row's 64-bit hash) observed on the same pass that materializes it.
    */
  private def observed(df: DataFrame, q: String): (DataFrame, Observation) = {
    val obs = Observation(s"digest_$q")
    (df.observe(obs, count(lit(1)).as("rows"),
      sum(expr("xxhash64(*)").cast(DecimalType(38, 0))).as("hash")), obs)
  }

  private def digest(obs: Observation): Seq[Any] =
    Seq(obs.get("rows"), String.valueOf(obs.get("hash")))

  /** Releases operator persists and cached tables, as `graft.Bench` does. */
  private def release(spark: SparkSession): Unit = {
    Caches.releaseAll()
    spark.catalog.clearCache()
  }

  private def cachedBytes(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => (i.memSize + i.diskSize).toDouble).sum

  def message(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}"
      .take(300)
}
