package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Snapshot-committed table storage with per-partition lineage — Iceberg-
  * shaped semantics (snapshot ids, atomic manifest swap, resume from last
  * committed snapshot) over plain Parquet directories, because no Iceberg
  * runtime jar exists in this environment (SURVEY.md §7.0). The interface is
  * format-pluggable: a production binding replaces `commit`/`read` bodies
  * with `df.writeTo(table)` / `spark.read.format("iceberg")` and keeps every
  * caller unchanged.
  *
  * Layout: <root>/<table>/snap-<id>/data/  (parquet parts)
  *         <root>/<table>/snap-<id>/lineage/  (parquet parts)
  *         <root>/<table>/_manifest.json          (atomic rename commit)
  *
  * Crash safety: data and lineage are fully written BEFORE the manifest is
  * swapped; a killed job leaves an orphan snap dir and the previous manifest
  * intact, so the rerun recomputes only the uncommitted stage (lodcc analog:
  * `.gt.gz` reuse, builder.py:38-42; `do_respect_existing_file`,
  * to_ntriples.sh:38-53).
  */
class TableIO(spark: SparkSession, root: String) {

  private val fs: FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  case class Snapshot(id: Long, stage: String, inputSnapshot: String,
                      rowCount: Long, wallMs: Long)

  private def manifestPath(table: String) = new Path(s"$root/$table/_manifest.json")

  private def dataDir(table: String, id: Long) = s"$root/$table/snap-$id/data"

  private def parseManifest(s: String): Option[Snapshot] = {
    def field(k: String): Option[String] =
      s"""\"$k\"\\s*:\\s*(\"([^\"]*)\"|[0-9]+)""".r.findFirstMatchIn(s)
        .map(m => Option(m.group(2)).getOrElse(m.group(1)))
    for {
      id <- field("id"); st <- field("stage"); in <- field("input_snapshot")
      rc <- field("row_count"); wm <- field("wall_ms")
    } yield Snapshot(id.toLong, st, in, rc.toLong, wm.toLong)
  }

  def latest(table: String): Option[Snapshot] = {
    val p = manifestPath(table)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val bytes = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
        in.readFully(bytes)
        parseManifest(new String(bytes, "UTF-8"))
      } finally in.close()
    }
  }

  def read(table: String): DataFrame = readSnapshot(table, "data")

  def readLineage(table: String): DataFrame = readSnapshot(table, "lineage")

  /** One part of the committed snapshot of `table`, read with the Spark
    * schema its writer stored in a part file's footer, so no
    * schema-inference job runs (a footer without it falls back to
    * inference).
    */
  private def readSnapshot(table: String, part: String): DataFrame = {
    val snap = latest(table).getOrElse(
      throw new IllegalStateException(s"no committed snapshot for table '$table'"))
    val dir = s"$root/$table/snap-${snap.id}/$part"
    val schema = partFiles(dir).headOption.flatMap { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
      try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata"))
      finally reader.close()
    }.map(DataType.fromJson(_).asInstanceOf[StructType])
    schema.fold(spark.read)(spark.read.schema).parquet(dir)
  }

  private def conf = spark.sparkContext.hadoopConfiguration

  /** The parquet part files a write left in `dir`. */
  private def partFiles(dir: String) =
    fs.listStatus(new Path(dir)).toSeq.filter(f => f.isFile &&
      !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))

  /** Write df as the next snapshot of `table` with per-file lineage rows
    * (stage, partition id, input snapshot, row count, wall ms), then
    * atomically swap the manifest. Returns the committed snapshot. `df` is
    * by name: the snapshot's wall time includes the work done while it is
    * built (checkpoints, counts, collected measures), not just the write.
    */
  def commit(table: String, df: => DataFrame, stage: String,
             inputSnapshot: String): Snapshot = {
    val t0 = System.nanoTime()
    val data = df
    val id = latest(table).map(_.id + 1).getOrElse(0L)
    data.write.mode("overwrite").parquet(dataDir(table, id))
    val wallMs = (System.nanoTime() - t0) / 1000000

    // one lineage row per written part file, its row count read from the
    // file's Parquet footer on the driver (no Spark job, no rescan).
    // partition_id is the writer's own part number from the file name; gaps
    // are legitimate (Spark writes no file for an empty partition), and a
    // zero-row file (the one an empty result still writes) gets no row.
    val perFile = partFiles(dataDir(table, id)).map { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
      val rows = try reader.getRecordCount finally reader.close()
      ("part-(\\d+)".r.findFirstMatchIn(f.getPath.getName).map(_.group(1).toInt), rows)
    }.filter(_._2 > 0)
    import spark.implicits._
    perFile.map { case (part, rows) => (stage, part, inputSnapshot, rows, wallMs) }
      .toDF("stage", "partition_id", "input_snapshot", "row_count", "wall_ms")
      .write.mode("overwrite").parquet(s"$root/$table/snap-$id/lineage")
    val rowCount = perFile.map(_._2).sum

    val json =
      s"""{"table": "$table", "id": $id, "stage": "$stage", "input_snapshot": "$inputSnapshot",
         | "row_count": $rowCount, "wall_ms": $wallMs}""".stripMargin
    val tmp = new Path(s"$root/$table/_manifest.json.tmp")
    val out = fs.create(tmp, true)
    out.write(json.getBytes("UTF-8"))
    out.close()
    val dst = manifestPath(table)
    if (fs.exists(dst)) fs.delete(dst, false)
    if (!fs.rename(tmp, dst))
      throw new IllegalStateException(s"manifest swap failed for $table")
    Snapshot(id, stage, inputSnapshot, rowCount, wallMs)
  }

  /** Resume-or-compute: if `table` already has a committed snapshot produced
    * from `inputSnapshot`, read it (skip the stage); otherwise run `compute`
    * and commit the result. This is the per-stage checkpoint/resume contract
    * of the north rule. Either way the table is read back through
    * [[read]].
    */
  def resumeOrCompute(table: String, stage: String, inputSnapshot: String)
                     (compute: => DataFrame): DataFrame =
    latest(table) match {
      case Some(snap) if snap.inputSnapshot == inputSnapshot && snap.stage == stage =>
        read(table)
      case _ =>
        commit(table, compute, stage, inputSnapshot)
        read(table)
    }

  /** [[commit]] with a TARGET OUTPUT-FILE SIZE: the write goes through
    * AQE's rebalance (the `REBALANCE` hint + advisory partition size), so
    * Spark splits oversized shuffle partitions and coalesces tiny ones to
    * `targetBytes` at runtime — no pre-scan, no hand-tuned partition
    * count. This is the 100-TB file-hygiene knob: a snapshot written from
    * a skewed upstream stage otherwise lands as a few multi-GB parts next
    * to thousands of KB-sized ones, both of which poison later scans.
    */
  def commitSized(table: String, df: DataFrame, stage: String,
                  inputSnapshot: String,
                  targetBytes: Long = 128L << 20): Snapshot = {
    require(targetBytes > 0, "targetBytes must be positive")
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, targetBytes.toString)
    try commit(table, df.hint("rebalance"), stage, inputSnapshot)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** Bucketed snapshot: persist `df` hash-bucketed AND sorted on `keys`
    * through the session catalog (files live under this TableIO root, the
    * catalog entry carries the bucket spec). Joins and aggregations between
    * snapshots bucketed on the same keys with the same bucket count then
    * run with NO exchange and NO sort — the co-located-join contract that
    * turns the repeated self-joins of a daily KG rebuild (edges ⋈ degrees,
    * edges ⋈ dict, prior ⋈ increment) from two full shuffles per stage
    * into none. Bucket count is a layout contract: pick it for the TARGET
    * cluster (e.g. 4-16x executor count) and keep it stable across
    * snapshots — TableIOSpec pins the exchange-free plan.
    *
    * The catalog entry is SESSION-GLOBAL, so its name is namespaced by a
    * slug of this TableIO's root (`graft_<rootslug>_<table>`): two
    * TableIO instances with different roots in one SparkSession get
    * disjoint catalog entries instead of silently overwriting each
    * other's. Data overwrites in place (the bucket layout IS the
    * snapshot — callers needing time travel keep using [[commit]] and
    * re-bucket the head).
    */
  private val rootSlug: String =
    java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(root) & 0xffffffffL)

  private def bucketedName(table: String) = s"graft_${rootSlug}_$table"

  def commitBucketed(table: String, df: DataFrame,
                     keys: Seq[String], buckets: Int): Unit = {
    require(keys.nonEmpty, "need at least one bucket key")
    require(buckets > 0, "buckets must be positive")
    df.write.mode("overwrite")
      .format("parquet")
      .option("path", s"$root/$table/bucketed")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(bucketedName(table))
  }

  /** Read a bucketed snapshot with its bucket spec intact (reading the
    * parquet path directly would discard the layout and reintroduce the
    * shuffle).
    */
  def readBucketed(table: String): DataFrame =
    spark.table(bucketedName(table))
}
