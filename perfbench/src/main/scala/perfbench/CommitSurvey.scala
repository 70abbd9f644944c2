package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{LocalFileSystem, Path}
import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.sources.ManifestIndex
import graft.util.Caches

/** Measures the commit traffic of registered queries: every manifest
  * commit they make, with its operation, the rows it adds and deletes, and
  * the table's live rows before it. `commit_stream`'s mix and batch sizes
  * are taken from this survey of the registry's commit-heavy queries.
  *
  * Each commit's manifest is captured when it is renamed into place (see
  * [[CapturingLocalFs]]), so commits a later vacuum removes are still seen.
  *
  * Usage: CommitSurvey --data <dir holding sf0.1/> --work <scratch dir>
  *          --cpus <n> --queries <q1,q2,...>
  */
object CommitSurvey {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val dataDir = s"${opts("data")}/sf0.1"
    val work = opts("work")
    val spark = Main.session(opts("cpus"), work,
      Map("spark.hadoop.fs.file.impl" -> classOf[CapturingLocalFs].getName,
        "spark.hadoop.fs.file.impl.disable.cache" -> "true"))
    val records =
      try opts("queries").split(",").toSeq.flatMap { q =>
        CapturingLocalFs.captured.clear()
        val error =
          try {
            SparkEntry.queries(q)(spark, dataDir).write.format("noop").mode("overwrite").save()
            None
          } catch { case e: Throwable => Some(RegistryMix.message(e)) }
          finally {
            Caches.releaseAll()
            spark.catalog.clearCache()
          }
        commits(spark, q, s"$work/survey/$q") ++
          error.map(e => Map("query" -> q, "error" -> e))
      } finally spark.stop()
    Files.writeString(Paths.get(work, "result.json"), Main.toJson(Map("commits" -> records)))
  }

  /** One record per captured manifest, diffed against the previous
    * manifest of the same root.
    */
  private def commits(spark: SparkSession, q: String, dir: String): Seq[Map[String, Any]] = {
    val caps = CapturingLocalFs.captured.asScala.toSeq
    val roots = caps.map(_._1).distinct
    caps.zipWithIndex.groupBy(_._1._1).toSeq.sortBy(r => roots.indexOf(r._1)).flatMap {
      case (root, rs) =>
        val manifests = rs.sortBy(_._2).map { case ((_, version, bytes), i) =>
          // ManifestIndex reads `<root>/<version>.manifest`: give each
          // capture a root of its own
          val copy = s"$dir/$i"
          Files.createDirectories(Paths.get(copy))
          Files.write(Paths.get(copy, s"$version.manifest"), bytes)
          version -> ManifestIndex.read(spark, copy, version)
        }
        manifests.indices.map { k =>
          val (version, m) = manifests(k)
          val prev = if (k == 0) Map.empty[String, ManifestIndex.Entry]
                     else manifests(k - 1)._2.entries.map(e => e.path -> e).toMap
          val cur = m.entries.map(e => e.path -> e).toMap
          def rows(e: ManifestIndex.Entry) = e.stats.map(_.rows).getOrElse(0L)
          def dvRows(e: ManifestIndex.Entry) = e.dv.map(_.rows).getOrElse(0L)
          def live(es: Iterable[ManifestIndex.Entry]) = es.map(e => rows(e) - dvRows(e)).sum
          val added = m.entries.filterNot(e => prev.contains(e.path))
          val dropped = prev.values.filterNot(e => cur.contains(e.path))
          Map("query" -> q, "root" -> roots.indexOf(root), "version" -> version,
            "operation" -> m.properties.getOrElse(ManifestIndex.OperationKey, ""),
            "live_before" -> live(prev.values), "live_after" -> live(m.entries),
            "files_added" -> added.size, "rows_added" -> added.map(rows).sum,
            "bytes_added" -> added.map(_.size).sum,
            "files_dropped" -> dropped.size, "rows_dropped" -> dropped.map(rows).sum,
            "dv_rows_added" -> m.entries.filter(e => prev.contains(e.path))
              .map(e => dvRows(e) - dvRows(prev(e.path))).sum)
        }
    }
  }
}

/** The local file system, keeping a copy of every table manifest as it is
  * renamed into place, with its root and version.
  */
class CapturingLocalFs extends LocalFileSystem {
  override def rename(src: Path, dst: Path): Boolean = {
    val ok = super.rename(src, dst)
    val version = dst.getName.stripSuffix(".manifest")
    if (ok && dst.getName.endsWith(".manifest") && version.matches("v\\d{5}"))
      CapturingLocalFs.captured.add((dst.getParent.toUri.getPath, version,
        Files.readAllBytes(Paths.get(dst.toUri.getPath))))
    ok
  }
}

object CapturingLocalFs {
  val captured = new ConcurrentLinkedQueue[(String, String, Array[Byte])]()
}
