package graft.io

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Iceberg-like table layer (SURVEY.md §7.1): Parquet data files + a JSON
  * snapshot-manifest log + a CURRENT pointer. Gives the snapshot /
  * checkpoint / resume / lineage semantics the north rule requires in this
  * zero-egress sandbox (no Iceberg runtime jar); a real Iceberg catalog
  * drops in behind the same call sites.
  *
  * All filesystem access goes through the Hadoop `FileSystem` API resolved
  * from the path's scheme + the active session's Hadoop conf — so the same
  * code runs against local disk, HDFS, or S3A on a real cluster (a
  * `java.nio.Files` implementation would silently be local-only).
  *
  * Layout:
  * {{{
  *   <tableDir>/data/snap-<id>/part-*.parquet   (+ Spark _SUCCESS marker)
  *   <tableDir>/metadata/v<id>.json             (manifest: files, rows, lineage, schema)
  *   <tableDir>/metadata/CURRENT                (pointer → latest id)
  * }}}
  *
  * The manifest's `schema` field is the DDL string (`StructType.toDDL`) of
  * the schema a read of the snapshot returns: the data columns, then the
  * partition columns, every field nullable. [[read]] and [[readAt]] pass it
  * to `spark.read.schema`, so reading a committed snapshot launches no
  * Spark job; like Iceberg's table metadata, it spares the reader Parquet's
  * one-task schema-inference job. A manifest without the field (written
  * before it existed) is read with inference.
  *
  * Manifest JSON is written by hand (no JSON dep) and read back with
  * `spark.read.json` for audit/lineage queries. Commit protocol: data dir is
  * fully written (Spark's job commit gives the _SUCCESS marker), the
  * manifest is written — THE commit point — then CURRENT is swapped
  * (tmp-write + rename). Because object stores / HDFS have no
  * atomic-overwrite rename, CURRENT is a hint, not the source of truth:
  * [[currentId]] falls back to scanning `v*.json` manifests for the highest
  * id whose data dir has _SUCCESS, so a crash between manifest write and
  * pointer swap (or a lost pointer) still resolves to a consistent snapshot
  * — never a half-visible table.
  */
object TableIO {

  final case class FileEntry(path: String, bytes: Long, rows: Long)
  final case class Snapshot(id: Long, parent: Long, stage: String, rows: Long,
      files: Seq[FileEntry], createdMs: Long, schema: StructType)

  /** Hadoop conf: the active session's (carries fs.s3a.* etc.) when present,
    * else a bare default (still resolves file:// and HDFS from core-site).
    */
  private def hconf: Configuration =
    SparkSession.getActiveSession.map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  private def fsOf(p: Path): FileSystem = p.getFileSystem(hconf)

  private def metaDir(t: String): Path = new Path(t, "metadata")
  private def dataDir(t: String, id: Long): Path = new Path(new Path(t, "data"), s"snap-$id")

  /** Read a small text file; None if absent. */
  def readString(p: Path): Option[String] = {
    val fs = fsOf(p)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        Some(new String(out.toByteArray, StandardCharsets.UTF_8))
      } finally in.close()
    }
  }

  /** Write a small text file via tmp + rename (best-effort atomic swap; the
    * caller's commit protocol must not depend on the swap being atomic —
    * see the class doc for how CURRENT recovery works).
    */
  def writeString(target: Path, content: String): Unit = {
    val fs = fsOf(target)
    val tmp = new Path(target.getParent, target.getName + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8)) finally out.close()
    if (fs.exists(target)) fs.delete(target, false)
    if (!fs.rename(tmp, target))
      throw new java.io.IOException(s"rename $tmp -> $target failed")
  }

  /** A snapshot is committed iff its data dir carries Spark's _SUCCESS
    * marker AND its manifest exists (the manifest write is the commit
    * point; _SUCCESS guards against a dir Spark was still filling).
    */
  private def committed(tableDir: String, id: Long): Boolean = {
    val fs = fsOf(dataDir(tableDir, id))
    fs.exists(new Path(dataDir(tableDir, id), "_SUCCESS")) &&
      fs.exists(new Path(metaDir(tableDir), s"v$id.json"))
  }

  /** All committed snapshot ids, ascending — the time-travel surface
    * (snapshots are never rewritten; [[write]] always creates the next id).
    */
  def snapshotIds(tableDir: String): Seq[Long] = {
    val md = metaDir(tableDir)
    val fs = fsOf(md)
    if (!fs.exists(md)) Seq.empty
    else fs.listStatus(md).toSeq
      .flatMap(s => "^v(\\d+)\\.json$".r.findFirstMatchIn(s.getPath.getName)
        .map(_.group(1).toLong))
      .filter(committed(tableDir, _))
      .sorted
  }

  /** CURRENT pointer if valid; else recover by scanning manifests for the
    * highest snapshot whose data dir is fully committed (_SUCCESS present).
    */
  def currentId(tableDir: String): Option[Long] = {
    val pointed = readString(new Path(metaDir(tableDir), "CURRENT"))
      .flatMap(s => s.trim.toLongOption)
    pointed.filter(committed(tableDir, _)).orElse(snapshotIds(tableDir).lastOption)
  }

  /** A table is complete iff a snapshot resolves whose data dir has Spark's
    * _SUCCESS marker and whose manifest exists (currentId enforces both).
    */
  def isComplete(tableDir: String): Boolean = currentId(tableDir).isDefined

  /** row_count of the CURRENT snapshot, read from its manifest (the manifest
    * JSON is written by this object, so a targeted scan is safe).
    */
  def currentRowCount(tableDir: String): Option[Long] = currentId(tableDir).flatMap { id =>
    readString(new Path(metaDir(tableDir), s"v$id.json"))
      .flatMap(s => """"row_count":(-?\d+)""".r.findFirstMatchIn(s).map(_.group(1).toLong))
  }

  def read(spark: SparkSession, tableDir: String): DataFrame = {
    val id = currentId(tableDir).getOrElse(
      throw new IllegalStateException(s"no committed snapshot in $tableDir"))
    readSnapshot(spark, tableDir, id)
  }

  /** Time-travel read of a specific committed snapshot (Iceberg
    * `VERSION AS OF` semantics): snapshot data dirs are immutable once
    * committed — [[write]] never rewrites an id — so any historical
    * pipeline state stays queryable until a retention sweep deletes it.
    */
  def readAt(spark: SparkSession, tableDir: String, snapshotId: Long): DataFrame = {
    if (!committed(tableDir, snapshotId))
      throw new IllegalStateException(
        s"snapshot $snapshotId of $tableDir is not committed " +
          s"(have: ${snapshotIds(tableDir).mkString(",")})")
    readSnapshot(spark, tableDir, snapshotId)
  }

  /** Read a committed snapshot with the schema its manifest records, else
    * (an older manifest) with Parquet's schema inference.
    */
  private def readSnapshot(spark: SparkSession, tableDir: String, id: Long): DataFrame = {
    val reader = manifestSchema(tableDir, id).foldLeft(spark.read)(_.schema(_))
    reader.parquet(dataDir(tableDir, id).toString)
  }

  private val SchemaField = """"schema":"((?:[^"\\]|\\.)*)"""".r

  private def manifestSchema(tableDir: String, id: Long): Option[StructType] =
    readString(new Path(metaDir(tableDir), s"v$id.json"))
      .flatMap(SchemaField.findFirstMatchIn(_))
      .map(m => StructType.fromDDL(unesc(m.group(1))))

  /** The schema `spark.read.parquet` gives a table written from `schema`:
    * partition columns moved last, and every field, element and value
    * nullable, as Parquet reads always are.
    */
  private def readSchema(schema: StructType, partitionBy: Seq[String]): StructType = {
    def nullable(t: DataType): DataType = t match {
      case s: StructType =>
        StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
      case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
      case other => other
    }
    nullable(StructType(schema.filterNot(f => partitionBy.contains(f.name)) ++
      partitionBy.map(schema(_)))).asInstanceOf[StructType]
  }

  /** Write df as the next snapshot of the table. Per-file lineage rows (path
    * relative to the snapshot's data dir, bytes, rows) are harvested from the
    * Parquet footers — metadata only, no extra Spark job over the data.
    */
  def write(df: DataFrame, tableDir: String, stage: String,
      partitionBy: Seq[String] = Nil): Snapshot = {
    val parent = currentId(tableDir).getOrElse(-1L)
    val id = parent + 1
    val dd = dataDir(tableDir, id)
    var w = df.write.mode("overwrite")
    if (partitionBy.nonEmpty) w = w.partitionBy(partitionBy: _*)
    w.parquet(dd.toString)
    // footer harvesting is metadata-only but per-file; parallelize on the
    // driver (hundreds of files × ~20ms each would otherwise serialize)
    val conf = hconf
    val files = {
      val paths = new java.util.ArrayList[Path](listParquet(dd).asJava)
      // qualified like the listed files (`file:` and all), so the paths
      // come out relative to the data dir
      val ddUri = fsOf(dd).makeQualified(dd).toUri
      paths.parallelStream()
        .map[FileEntry] { p =>
          val fs = p.getFileSystem(conf)
          FileEntry(ddUri.relativize(p.toUri).getPath,
            fs.getFileStatus(p).getLen, parquetRows(p, conf))
        }
        .collect(java.util.stream.Collectors.toList[FileEntry])
        .asScala.toSeq.sortBy(_.path)
    }
    val snap = Snapshot(id, parent, stage, files.map(_.rows).sum, files,
      System.currentTimeMillis(), readSchema(df.schema, partitionBy))
    fsOf(metaDir(tableDir)).mkdirs(metaDir(tableDir))
    // manifest write is the commit point; CURRENT is a recoverable hint
    writeString(new Path(metaDir(tableDir), s"v$id.json"), manifestJson(snap))
    writeString(new Path(metaDir(tableDir), "CURRENT"), id.toString)
    snap
  }

  /** All manifests of a table as a DataFrame (lineage/audit surface). */
  def manifests(spark: SparkSession, tableDir: String): DataFrame =
    spark.read.json(new Path(metaDir(tableDir), "v*.json").toString)

  private def listParquet(dir: Path): Seq[Path] = {
    val fs = fsOf(dir)
    val it = fs.listFiles(dir, true)
    val out = Seq.newBuilder[Path]
    while (it.hasNext) {
      val s = it.next()
      if (s.isFile && s.getPath.getName.endsWith(".parquet")) out += s.getPath
    }
    out.result().sortBy(_.toString)
  }

  private def footer(p: Path, conf: Configuration): ParquetMetadata = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
    try r.getFooter finally r.close()
  }

  /** Row count from the Parquet footer (no data read). */
  def parquetRows(p: Path, conf: Configuration): Long =
    footer(p, conf).getBlocks.asScala.map(_.getRowCount.toLong).sum

  /** Read a Parquet source (one file, or a directory of part files) with
    * the schema of its first data file's footer, read on the driver.
    * `spark.read.parquet` infers the same schema in a one-task Spark job;
    * this runs none. The footer's Spark schema
    * (`org.apache.spark.sql.parquet.row.metadata`, written by Spark) is
    * used when present, else its Parquet schema is converted under the
    * session's settings: `ParquetFileFormat.readSchemaFromFooter`, which
    * inference calls on the same file. Like inference without schema
    * merging, it assumes the files share one schema.
    *
    * A directory with subdirectories (partition columns) or without a data
    * file, and a session that merges Parquet schemas, are read by
    * `spark.read.parquet` as before.
    */
  def readParquet(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val first =
      if (spark.sessionState.conf.isParquetSchemaMergingEnabled || !fs.exists(p)) None
      else if (fs.getFileStatus(p).isFile) Some(p)
      else {
        val visible = fs.listStatus(p).toSeq
          .filterNot(s => s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith("."))
        if (visible.exists(_.isDirectory)) None
        else visible.map(_.getPath).sortBy(_.getName).headOption
      }
    first match {
      case Some(f) =>
        val schema = ParquetFileFormat.readSchemaFromFooter(new Footer(f, footer(f, conf)),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
        spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }
  }

  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private def unesc(s: String): String =
    """\\(u[0-9a-fA-F]{4}|.)""".r.replaceAllIn(s, m => java.util.regex.Matcher.quoteReplacement(
      if (m.group(1).length == 5) Integer.parseInt(m.group(1).drop(1), 16).toChar.toString
      else m.group(1)))

  private def manifestJson(s: Snapshot): String = {
    val files = s.files.map(f =>
      s"""{"path":"${esc(f.path)}","bytes":${f.bytes},"rows":${f.rows}}""").mkString(",")
    s"""{"snapshot_id":${s.id},"parent_id":${s.parent},"stage":"${esc(s.stage)}",""" +
      s""""row_count":${s.rows},"created_ms":${s.createdMs},"files":[$files],""" +
      s""""schema":"${esc(s.schema.toDDL)}"}"""
  }
}
