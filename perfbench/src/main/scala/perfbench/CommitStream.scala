package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Layout
import graft.streaming.{GraftChangeSource, StreamingOps}
import graft.util.DmlTimer

/** A write stream against one manifest table, with reads of the same
  * table beside the writes — a closed loop with one client.
  *
  * Set-up builds the base table (`BaseRows` rows, partitioned by `part`,
  * bloom filter on `id`) and runs each kind of operation once, untimed.
  * A pass is a fixed multiset of writes and reads in seeded order,
  * followed by one change-stream drain and `Layout.maintain`. The writes
  * go through `Layout`'s row-level API and through SQL DML. Their mix and
  * sizes follow the registry's commit-heavy queries, as
  * `perfbench/survey.py` measures them (README, "commit_stream's
  * traffic"): each write touches a slice of the live rows picked by an
  * `id` residue, as those queries do. The reads are point and range reads
  * through SQL and through `Layout.readCurrent`. A run makes one timed
  * pass, and more until `seconds` have passed, with a full GC before each
  * operation, outside its timing. Every batch, slice and value comes from
  * the seed. A client-side model of the table checks every read, the
  * drained change feed and the final table.
  */
object CommitStream {
  val Name = "commit_stream"
  /** A third of the orders table at sf0.1, the base most of the surveyed
    * queries start from, so that a run fits the benchmark's time budget.
    * Write sizes are shares of the live rows, as surveyed.
    */
  val BaseRows = 50000
  private val Parts = 8

  final case class Rec(id: Long, part: Int, qty: Long, price: Double, note: String)

  /** One pass's writes: the surveyed row-level commits (DELETE ROWS 12,
    * MERGE INTO 7, UPDATE ROWS 6, UPSERT ROWS 6, APPEND 3) over six,
    * rounded, each through the interface most of the surveyed
    * registrations use for it: deletes once through the API and once
    * through SQL, merges and updates through SQL.
    */
  private val Writes = Seq("delete", "delete_sql", "merge_sql", "upsert", "update_sql", "append")
  private val PassOps = Writes ++ Seq("point_sql", "point_api", "range_sql", "range_api")

  // Each write's slice is the live rows whose id has a seeded residue
  // modulo one of these; new keys are a share of the live rows. The
  // shares are the surveyed medians, per operation, of rows added and
  // rows deleted over the live rows before the commit.
  private val DeleteMod = 9 // DELETE ROWS: 11 % deleted
  private val UpsertMod = 11 // UPSERT ROWS: 9 % replaced ...
  private val UpsertFresh = 100 // ... and 1 % new, 10 % added
  private val UpdateMod = 6 // UPDATE ROWS: 17 % replaced
  private val MergeMod = 10 // MERGE INTO: 10 % matched, a tenth of them deleted ...
  private val MergeFresh = 25 // ... and 4 % new, 13 % added
  private val AppendShare = 0.25 // APPEND to a table that holds rows: 25 %
  private val RangeWidth = 1000
  /** Maintenance as q172 runs it (`maxFiles` 2), keeping the versions the
    * follower still reads. A restarted follower first re-reads the batch
    * it drained last, which starts where the drain before it ended: up to
    * a pass's writes plus two maintenance commits on each side (purge and
    * compact) before the head. Older versions are vacuumed.
    */
  private val Policy = Layout.MaintenancePolicy(maxFiles = 2, keepVersions = Writes.size + 5)

  def run(spark: SparkSession, tracer: Tracer, seed: Long, seconds: Double,
          work: String, setupStart: Long): Map[String, Any] =
    new CommitStream(spark, tracer, seed, work).run(seconds, setupStart)

  /** Every file under `root`, relative path → size in bytes. */
  def listFiles(root: String): Map[String, Long] = {
    val base = Paths.get(root)
    if (!Files.exists(base)) Map.empty
    else {
      val s = Files.walk(base)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => base.relativize(p).toString -> Files.size(p)).toMap
      finally s.close()
    }
  }
}

private final class CommitStream(spark: SparkSession, tracer: Tracer, seed: Long,
                                 work: String) {
  import CommitStream._
  import spark.implicits._

  private val rng = new Random(seed)
  private val root = s"$work/cs/table"
  private val feedDir = s"$work/cs/feed"
  private val checkpoint = s"$work/cs/feed_checkpoint"
  private val model = mutable.TreeMap.empty[Long, Rec]
  private var nextId = 0L
  private var recording = false
  private val submitted = ArrayBuffer.empty[Rec]
  private val submittedDeletes = ArrayBuffer.empty[Long]
  private val seenFiles = mutable.Map.empty[String, Long]
  private val drained = ArrayBuffer.empty[Seq[String]]

  private def newRec(id: Long): Rec =
    Rec(id, (id % Parts).toInt, rng.nextInt(1000).toLong,
      math.round(rng.nextDouble() * 100000) / 100.0,
      rng.alphanumeric.take(8).mkString)

  private def freshIds(n: Int): Seq[Long] = {
    val ids = nextId until nextId + n
    nextId += n
    ids
  }

  /** A seeded residue of `mod` and the live ids that have it. */
  private def slice(mod: Int): (Int, Seq[Long]) = {
    val r = rng.nextInt(mod)
    (r, model.keysIterator.filter(_ % mod == r).toSeq)
  }

  private def record(rows: Seq[Rec]): Unit = {
    rows.foreach(r => model(r.id) = r)
    if (recording) submitted ++= rows
  }

  private def remove(ids: Seq[Long]): Unit = {
    ids.foreach(model.remove)
    if (recording) submittedDeletes ++= ids
  }

  private def sql(stmt: String): DataFrame = tracer.span("plans.sql")(spark.sql(stmt))

  /** Runs one operation; returns its kind, for a read the mismatch, and
    * for maintenance what it did.
    */
  private def op(name: String): (String, Option[String], Option[Layout.MaintenanceReport]) =
    name match {
      case "delete" | "delete_sql" =>
        val (r, ids) = slice(DeleteMod)
        remove(ids)
        if (name == "delete")
          tracer.span("sources.deleteVersionedRows")(
            Layout.deleteVersionedRows(spark, root, col("id") % DeleteMod === r))
        else sql(s"DELETE FROM graft.`$root` WHERE id % $DeleteMod = $r")
        ("write", None, None)
      case "upsert" =>
        val rows = (slice(UpsertMod)._2 ++ freshIds(model.size / UpsertFresh)).map(newRec)
        record(rows)
        tracer.span("sources.upsertVersionedRows")(
          Layout.upsertVersionedRows(spark, root, rows.toDF(), Seq("id")))
        ("write", None, None)
      case "update_sql" =>
        val (r, ids) = slice(UpdateMod)
        record(ids.map(id => model(id).copy(qty = model(id).qty + 1)))
        sql(s"UPDATE graft.`$root` SET qty = qty + 1 WHERE id % $UpdateMod = $r")
        ("write", None, None)
      case "merge_sql" =>
        // as q164: matched rows with a low new qty (a tenth) are deleted,
        // the other matched rows updated, and new keys inserted
        val src = (slice(MergeMod)._2 ++ freshIds(model.size / MergeFresh)).map(newRec)
        val (gone, kept) = src.partition(s => model.contains(s.id) && s.qty < 100)
        remove(gone.map(_.id))
        record(kept)
        src.toDF().createOrReplaceTempView("perfbench_src")
        sql(s"""MERGE INTO graft.`$root` t USING perfbench_src s ON t.id = s.id
               |WHEN MATCHED AND s.qty < 100 THEN DELETE
               |WHEN MATCHED THEN UPDATE SET *
               |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        ("write", None, None)
      case "append" =>
        val rows = freshIds((model.size * AppendShare).toInt).map(newRec)
        record(rows)
        tracer.span("sources.appendVersionedRows")(
          Layout.appendVersionedRows(spark, root, rows.toDF()))
        ("write", None, None)
      case "point_sql" | "point_api" =>
        val id = (rng.nextDouble() * nextId).toLong
        val df =
          if (name == "point_sql") sql(s"SELECT * FROM graft.`$root` WHERE id = $id")
          else tracer.span("sources.readCurrent")(Layout.readCurrent(spark, root))
            .filter(col("id") === id)
        ("read", compare(df, model.get(id).toSeq, s"id = $id"), None)
      case "range_sql" | "range_api" =>
        val lo = (rng.nextDouble() * nextId).toLong
        val hi = lo + RangeWidth - 1
        val df =
          if (name == "range_sql") sql(s"SELECT * FROM graft.`$root` WHERE id BETWEEN $lo AND $hi")
          else tracer.span("sources.readCurrent")(Layout.readCurrent(spark, root))
            .filter(col("id").between(lo, hi))
        ("read", compare(df, model.range(lo, hi + 1).values.toSeq, s"id in [$lo, $hi]"), None)
      case "drain_maintain" =>
        drain()
        ("maintain", None, Some(tracer.span("sources.maintain")(Layout.maintain(spark, root, Policy))))
    }

  /** Drains the change-stream follower, then notes which feed files the
    * drain added, so the feed can be replayed batch by batch.
    */
  private def drain(): Unit = {
    tracer.span("streaming.drain")(StreamingOps.drainToParquet(
      StreamingOps.readChangeStream(spark, root, Seq("id")), feedDir, checkpoint))
    val known = drained.flatten.toSet
    drained += listFiles(feedDir).keys.filter(f => f.endsWith(".parquet") && !known(f))
      .toSeq.sorted
  }

  /** Collects `df` (in the op's timing: the read is the op) and compares
    * it with the model's rows.
    */
  private def compare(df: DataFrame, want: Seq[Rec], what: String): Option[String] = {
    val ds = df.as[Rec]
    val got = tracer.span("exec.action")(ds.collect()).toSeq
    if (tracer.active) PlanWalk.manifestScans(ds.queryExecution.executedPlan).foreach {
      case (read, listed) =>
        tracer.add("sources.scan_files_read", read.toDouble)
        tracer.add("sources.scan_files_listed", listed.toDouble)
    }
    if (got.sortBy(_.id) == want) None
    else Some(s"read $what: ${got.size} rows, model has ${want.size}")
  }

  private def trackFiles(): Unit = listFiles(root).foreach { case (p, s) => seenFiles(p) = s }

  /** Pass 0, the warm-up, runs each kind of operation once. The drain
    * and maintenance always end a pass, after its commits.
    */
  private def pass(passNo: Int, log: Option[ArrayBuffer[Map[String, Any]]]): Unit =
    (new Random(seed * 1000003L + passNo)
      .shuffle(if (passNo == 0) PassOps.distinct else PassOps) :+ "drain_maintain").foreach { name =>
      System.gc()
      if (tracer.active) DmlTimer.readAndResetSec()
      val gc0 = Main.gcMs()
      val t0 = System.nanoTime()
      val (kind, error, report) = tracer.span(s"op:$name") {
        try op(name)
        catch { case e: Throwable => ("error", Some(RegistryMix.message(e)), None) }
      }
      val ms = (System.nanoTime() - t0) / 1e6
      val gcMs = Main.gcMs() - gc0
      if (tracer.active) {
        val dml = DmlTimer.readAndResetSec()
        tracer.add("sources.commit_ms", dml * 1000)
        if (kind == "write") tracer.add("sources.commits", 1)
      }
      if (kind != "read") trackFiles()
      log.foreach(_ += Map("name" -> name, "kind" -> kind, "pass" -> passNo,
        "ms" -> ms, "gc_ms" -> gcMs, "ok" -> error.isEmpty, "error" -> error,
        "maintain" -> report.map(r => Map("purged" -> r.purgedLeaves,
          "compacted" -> r.compactedLeaves, "vacuumed" -> r.vacuumedVersions))))
    }

  def run(seconds: Double, setupStart: Long): Map[String, Any] = {
    val base = freshIds(BaseRows).map(newRec)
    record(base)
    Layout.initVersionedManifest(base.toDF(), root, Seq("part"), Seq("id"))
    val baseS = (System.nanoTime() - setupStart) / 1e9
    pass(0, None)
    val setupS = (System.nanoTime() - setupStart) / 1e9

    val ops = ArrayBuffer.empty[Map[String, Any]]
    val initialFiles = listFiles(root)
    recording = true
    tracer.start()
    val windowStart = System.nanoTime()
    tracer.span("run") {
      var passNo = 0
      while (passNo == 0 || (System.nanoTime() - windowStart) / 1e9 < seconds) {
        passNo += 1
        tracer.span("pass")(pass(passNo, Some(ops)))
      }
    }
    val windowS = (System.nanoTime() - windowStart) / 1e9
    tracer.stop()
    recording = false

    val checkStart = System.nanoTime()
    val checks = Seq(
      "final_table" -> compareTable(),
      "change_feed" -> { drain(); compareFeed() })
    writePlain(submitted.toSeq.toDF(), "submitted")
    writePlain(submittedDeletes.toSeq.toDF("id"), "submitted_deletes")
    writePlain(Layout.readCurrent(spark, root), "live")

    Map("setup_s" -> setupS, "window_s" -> windowS, "ops" -> ops.toSeq,
      "phases_s" -> Map("base" -> baseS, "warmup" -> (setupS - baseS),
        "checks" -> (System.nanoTime() - checkStart) / 1e9),
      "checks" -> checks.map { case (n, e) => Map("name" -> n, "ok" -> e.isEmpty, "error" -> e) },
      "files_new" -> seenFiles.filter { case (p, _) => !initialFiles.contains(p) }.toMap,
      "files_final" -> listFiles(root))
  }

  private def compareTable(): Option[String] = {
    val got = Layout.readCurrent(spark, root).as[Rec].collect().sortBy(_.id).toSeq
    val want = model.values.toSeq
    if (got == want) None
    else Some(s"final table: ${got.size} rows, model has ${want.size}; " +
      s"first difference at id ${got.zipAll(want, null, null).find(p => p._1 != p._2)
        .map(p => Option(p._1).getOrElse(p._2).id).getOrElse(-1L)}")
  }

  /** Replays the drained change feed, batch by batch, onto an empty
    * replica: the first batch is the snapshot, each later one the change
    * feed between two drains. The replica must equal the model.
    */
  private def compareFeed(): Option[String] = {
    val replica = mutable.TreeMap.empty[Long, Rec]
    drained.filter(_.nonEmpty).foreach { files =>
      val batch = spark.read.parquet(files.map(f => s"$feedDir/$f"): _*)
      val rows = batch.select(col(GraftChangeSource.ChangeTypeCol),
        struct("id", "part", "qty", "price", "note")).as[(String, Rec)].collect()
      rows.filter(_._1 == "delete").foreach(r => replica.remove(r._2.id))
      rows.filter(r => r._1 == "insert" || r._1 == "update_post")
        .foreach(r => replica(r._2.id) = r._2)
    }
    if (replica == model) None
    else Some(s"change feed replay: ${replica.size} live rows, model has ${model.size}")
  }

  /** Writes `df` as one Parquet file for the plain-encoding size measure. */
  private def writePlain(df: DataFrame, name: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$work/cs/$name")
}
