package graft.pipeline

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import java.nio.charset.StandardCharsets
import scala.concurrent.{blocking, Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import graft.Json

/** Per-partition commit manifest — the Iceberg-facing contract behind a
  * trait (no Iceberg runtime jar exists in this sandbox, BASELINE.md):
  * partitioned output, per-partition snapshot commit with lineage +
  * row-count/byte metrics, idempotent resume from the last committed
  * partition. A real Iceberg catalog is a drop-in replacement for
  * [[HadoopManifestCatalog]] (swap commit/committed for snapshot
  * commit/scan).
  */
trait TranscriptCatalog {
  /** Buckets already durably committed for this output table. */
  def committedBuckets(): Set[Int]
  /** Atomically commit one bucket with its lineage + metrics. */
  def commit(entry: ManifestEntry): Unit
  /** Commit several buckets; each commit is atomic on its own, and their
    * order is unspecified. Returns once all have committed.
    */
  def commitAll(entries: Seq[ManifestEntry]): Unit = entries.foreach(commit)
}

/** One committed bucket's lineage record. `rows`/`bytes` come from
  * `Dataset.observe` on the write job and are BEST-EFFORT: Spark metric
  * accumulators in transformations can be applied more than once under
  * stage re-execution (fetch-failure retries, speculation), so counts can
  * overstate what was committed (ADVICE r02). Exact-count consumers
  * should re-count from footers; the manifest's commit/resume semantics
  * do not depend on the metric values.
  */
final case class ManifestEntry(
    bucket: Int,
    rows: Long,
    bytes: Long,
    inputFingerprint: String,
    version: String)

object ManifestEntry {
  def toJson(e: ManifestEntry): String =
    s"""{"bucket":${e.bucket},"rows":${e.rows},"bytes":${e.bytes},""" +
      s""""inputFingerprint":${Json.quote(e.inputFingerprint)},""" +
      s""""version":${Json.quote(e.version)}}"""
}

/** Hadoop-FS manifest: one JSON file per bucket under `_manifest/`,
  * committed by atomic rename (write to `_tmp`, then rename — the same
  * commit primitive Hadoop output committers rely on). Works on local FS
  * here and on HDFS/object stores with atomic rename semantics at scale.
  */
final class HadoopManifestCatalog(outDir: String, conf: Configuration)
    extends TranscriptCatalog {

  private val manifestDir = new Path(outDir, "_manifest")

  private def fs: FileSystem = manifestDir.getFileSystem(conf)

  override def committedBuckets(): Set[Int] = {
    val f = fs
    if (!f.exists(manifestDir)) return Set.empty
    f.listStatus(manifestDir).iterator
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("bucket-") && n.endsWith(".json") =>
        n.stripPrefix("bucket-").stripSuffix(".json").toInt
      }
      .toSet
  }

  override def commit(entry: ManifestEntry): Unit = {
    fs.mkdirs(manifestDir)
    write(entry)
  }

  /** One file per bucket, so the commits are independent: they run
    * concurrently (each one's create/rename round trips — a forked
    * `chmod` per created file on a local FS without native Hadoop —
    * overlap instead of adding up). Every commit is still tmp + atomic
    * rename; a failure is rethrown after all commits have settled.
    */
  override def commitAll(entries: Seq[ManifestEntry]): Unit = {
    fs.mkdirs(manifestDir)
    implicit val ec: ExecutionContext = ExecutionContext.global
    val pending = entries.map(e => Future(blocking(write(e))))
    pending.foreach(Await.ready(_, Duration.Inf))
    pending.foreach(_.value.get.get)
  }

  private def write(entry: ManifestEntry): Unit = {
    val f = fs
    val tmp = new Path(manifestDir, f"bucket-${entry.bucket}%05d.json._tmp")
    val dst = new Path(manifestDir, f"bucket-${entry.bucket}%05d.json")
    val out = f.create(tmp, true)
    try out.write(ManifestEntry.toJson(entry).getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (f.exists(dst)) f.delete(dst, false) // idempotent re-commit
    if (!f.rename(tmp, dst)) {
      throw new java.io.IOException(s"manifest commit failed for $dst")
    }
  }
}
