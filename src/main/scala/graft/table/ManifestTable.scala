package graft.table

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** Iceberg-shaped table contract: snapshot ids, a manifest of data files
  * with per-partition lineage, atomic commit, and time-travel-by-snapshot
  * reads — implemented over Parquet + JSON manifests because no
  * `iceberg-spark-runtime` jar exists in this sandbox (SURVEY.md §7.0).
  * Call sites are Iceberg-shaped so the real runtime can slot in via
  * config outside the sandbox.
  *
  * Layout:
  * {{{
  *   <root>/data/snap=<id>/sink=<sink>/part-*.parquet — immutable data files
  *   <root>/_pending/<id>/_data_done                  — data write complete
  *   <root>/_pending/<id>/<sink>.json                 — per-sink fragment
  *   <root>/_manifests/<id>.json                      — snapshot manifest
  *   <root>/_current                                  — pointer (atomic rename)
  * }}}
  *
  * Commit protocol (crash-safe): data files are fully written under a
  * snapshot-scoped directory first, then marked done; one lineage
  * fragment per sink follows; the manifest is written next; the
  * `_current` pointer is the last, atomic step. A crash before the
  * pointer flip leaves the previous snapshot intact and readable.
  */
final case class SinkLineage(sink: String, rows: Long, path: String)

final case class Manifest(
    snapshotId: Long,
    parentId: Option[Long],
    sinks: Seq[SinkLineage]) {
  def toJson: String = {
    def esc(s: String) = s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c => c.toString
    }
    val sinksJson = sinks.map(l =>
      s"""{"sink":"${esc(l.sink)}","rows":${l.rows},"path":"${esc(l.path)}"}""")
      .mkString("[", ",", "]")
    s"""{"snapshotId":$snapshotId,"parentId":${parentId.getOrElse("null")},"sinks":$sinksJson}"""
  }
}

object Manifest {
  /** Minimal JSON reader for manifests we wrote ourselves. */
  def fromJson(s: String): Manifest = {
    def longField(name: String): Option[Long] =
      ("\"" + name + "\":(\\d+)").r.findFirstMatchIn(s).map(_.group(1).toLong)
    val sinkRe = """\{"sink":"([^"]*)","rows":(\d+),"path":"([^"]*)"\}""".r
    Manifest(
      snapshotId = longField("snapshotId").getOrElse(
        throw new IllegalArgumentException(s"bad manifest: $s")),
      parentId = longField("parentId"),
      sinks = sinkRe.findAllMatchIn(s).map(m =>
        SinkLineage(m.group(1), m.group(2).toLong, m.group(3))).toSeq)
  }
}

class ManifestTable(root: String) {
  private def p(parts: String*): Path = Paths.get(root, parts: _*)
  private def pending(snapshotId: Long, file: String): Path =
    p("_pending", s"$snapshotId", file)

  def currentSnapshotId: Option[Long] = {
    val cur = p("_current")
    if (Files.exists(cur)) Some(new String(Files.readAllBytes(cur), StandardCharsets.UTF_8).trim.toLong)
    else None
  }

  def manifest(snapshotId: Long): Manifest =
    Manifest.fromJson(new String(
      Files.readAllBytes(p("_manifests", s"$snapshotId.json")), StandardCharsets.UTF_8))

  def isCommitted(snapshotId: Long): Boolean =
    Files.exists(p("_manifests", s"$snapshotId.json"))

  /** Directory of a snapshot's data files, one `sink=<sink>` partition
    * directory per sink. */
  def dataPath(snapshotId: Long): String = p("data", s"snap=$snapshotId").toString

  /** Sink -> its partition directory, for each one under [[dataPath]]. */
  def dataSinks(snapshotId: Long): Map[String, String] =
    Files.list(Paths.get(dataPath(snapshotId))).iterator().asScala
      .map(d => (d.getFileName.toString, d.toString))
      .collect { case (n, d) if n.startsWith("sink=") => n.stripPrefix("sink=") -> d }
      .toMap

  /** Marks a snapshot's data write complete, recording the run's
    * metrics (a JSON object) alongside. */
  def markDataDone(snapshotId: Long, metricsJson: String): Unit =
    atomicWrite(pending(snapshotId, "_data_done"), metricsJson)

  /** The metrics recorded by [[markDataDone]]; None while the data
    * write has not completed. */
  def dataDone(snapshotId: Long): Option[String] = {
    val marker = pending(snapshotId, "_data_done")
    if (Files.exists(marker))
      Some(new String(Files.readAllBytes(marker), StandardCharsets.UTF_8))
    else None
  }

  /** Records one sink's lineage fragment; [[commit]] seals them. */
  def writeFragment(snapshotId: Long, lineage: SinkLineage): Unit =
    atomicWrite(pending(snapshotId, s"${lineage.sink}.json"),
      Manifest(snapshotId, None, Seq(lineage)).toJson)

  /** Sinks already committed in an *in-progress* snapshot (manifest
    * fragments under `_pending/<id>/`) — the resume unit. */
  def completedSinks(snapshotId: Long): Map[String, SinkLineage] = {
    val dir = p("_pending", s"$snapshotId")
    if (!Files.exists(dir)) Map.empty
    else Files.list(dir).iterator().asScala
      .filter(_.toString.endsWith(".json"))
      .map(f => Manifest.fromJson(new String(Files.readAllBytes(f), StandardCharsets.UTF_8)))
      .flatMap(_.sinks).map(l => l.sink -> l).toMap
  }

  /** Seal a snapshot: collect fragments into one manifest, flip the
    * `_current` pointer atomically. */
  def commit(snapshotId: Long): Manifest = {
    val parent = currentSnapshotId
    val m = Manifest(snapshotId, parent, completedSinks(snapshotId).values.toSeq.sortBy(_.sink))
    atomicWrite(p("_manifests", s"$snapshotId.json"), m.toJson)
    atomicWrite(p("_current"), snapshotId.toString)
    m
  }

  /** Time-travel read: a sink's rows at a given (default: current) snapshot. */
  def read(spark: SparkSession, sink: String, snapshotId: Option[Long] = None): DataFrame = {
    val id = snapshotId.orElse(currentSnapshotId).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $root"))
    val lineage = manifest(id).sinks.find(_.sink == sink).getOrElse(
      throw new IllegalArgumentException(s"sink $sink not in snapshot $id"))
    spark.read.parquet(lineage.path)
  }

  private def atomicWrite(path: Path, content: String): Unit = {
    Files.createDirectories(path.getParent)
    val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
    Files.write(tmp, content.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }
}
