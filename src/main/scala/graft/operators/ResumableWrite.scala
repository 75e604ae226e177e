package graft.operators

import java.nio.charset.{Charset, StandardCharsets}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Snapshot-checkpointed, resumable partitioned writes with per-partition
  * lineage and metrics (north rule: "resumable from checkpoint with
  * per-partition lineage + metrics").
  *
  * No Iceberg runtime ships in this sandbox, so the snapshot layer is the
  * same idea in miniature: output is laid out as one directory per
  * partition key (hive-style `part=<value>/`), committed atomically
  * (write to a temp root, rename per partition) and recorded in a
  * JSON-lines manifest carrying the partition's lineage (input, run id)
  * and metrics (rows, bytes, wall millis). A restarted run reads the
  * manifest and processes only the partitions that never committed — the
  * exact contract an Iceberg snapshot + partition-level replace gives on a
  * real cluster.
  *
  * Scan discipline (the round-1 defect was O(P) full input scans): a run
  * performs exactly
  *   1. one COLUMN-PRUNED scan of the partition column (distinct values),
  *   2. one full scan that writes every pending partition in a single
  *      `partitionBy` pass, with per-partition row counts taken from the
  *      same pass via `Observation` metrics (for very wide partition sets,
  *      a second column-pruned count aggregation instead).
  * ResumableWriteSpec pins this with a row-probe accumulator.
  */
object ResumableWrite {

  final case class PartitionRecord(partition: String, rows: Long, bytes: Long,
                                   millis: Long, runId: String, input: String)

  /** Above this many pending partitions, per-partition counts come from a
    * column-pruned aggregation instead of one Observation with P
    * conditional sums (which codegens poorly for huge P). */
  private val ObserveMaxPartitions = 512

  private def manifestPath(outDir: String) = Paths.get(outDir, "_lineage_manifest.jsonl")

  /** Decode hive-style %XX path escaping (what `partitionBy` writes for
    * special characters in partition values). */
  private def unescapePathName(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        try { sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar); i += 3 }
        catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** The JVM's file-name encoding: how it turns a path into bytes. */
  private[graft] def fileNameEncoding: Charset =
    Charset.forName(System.getProperty("sun.jnu.encoding", Charset.defaultCharset().name))

  /** The partition values whose directory name `<partitionCol>=<value>`
    * `encoding` cannot encode. Hive path escaping maps only ASCII characters,
    * so any other character reaches the file system as it is. */
  private[graft] def unencodable(partitionCol: String, values: Seq[String],
                                 encoding: Charset): Seq[String] = {
    val encoder = encoding.newEncoder()
    values.filterNot(v => encoder.canEncode(s"$partitionCol=$v"))
  }

  /** Committed partition values from previous runs (crash-safe: a partition
    * is committed iff its manifest line exists). */
  def committedPartitions(outDir: String): Set[String] =
    readManifest(outDir).map(_.partition).toSet

  /** The store's one JSON codec (manifest lines and [[WriterLock]]
    * payloads); a line with anything after its closing brace is not a
    * record. */
  private[operators] val Json = new ObjectMapper()
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  /** A manifest line as a record, or None unless it is a complete record:
    * a crash mid-append leaves a torn line, and that partition pending. */
  private def parseManifestLine(line: String): Option[PartitionRecord] = {
    val n = try Json.readTree(line) catch { case _: JsonProcessingException => null }
    def str(k: String) = Option(n.get(k)).filter(_.isTextual).map(_.asText)
    def num(k: String) = Option(n.get(k))
      .filter(v => v.isIntegralNumber && v.canConvertToLong && v.asLong >= 0).map(_.asLong)
    if (n == null || !n.isObject) None
    else for (part <- str("partition"); rows <- num("rows"); bytes <- num("bytes");
              millis <- num("millis"); runId <- str("run_id"); input <- str("input"))
      yield PartitionRecord(part, rows, bytes, millis, runId, input)
  }

  def readManifest(outDir: String): Seq[PartitionRecord] = {
    val p = manifestPath(outDir)
    if (!Files.exists(p)) return Nil
    import scala.jdk.CollectionConverters._
    Files.readAllLines(p).asScala.toSeq.flatMap(parseManifestLine)
  }

  private def appendManifest(outDir: String, rec: PartitionRecord): Unit = {
    val line = Json.writeValueAsString(Json.createObjectNode()
      .put("partition", rec.partition).put("rows", rec.rows).put("bytes", rec.bytes)
      .put("millis", rec.millis).put("run_id", rec.runId).put("input", rec.input)) + "\n"
    Files.write(manifestPath(outDir), line.getBytes(StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
  }

  private def dirBytes(path: Path): Long = {
    if (!Files.exists(path)) return 0L
    val s = Files.walk(path)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size).sum
    finally s.close()
  }

  /** Write `df` partitioned by `partitionCol`, skipping partitions already
    * committed in a previous (possibly crashed) run. All pending partitions
    * are written in ONE `partitionBy` pass to a temp root, then committed
    * one-by-one (atomic rename + manifest append), so a crash at any point
    * either commits a partition completely or leaves it pending.
    *
    * The whole run holds the store's exclusive [[WriterLock]] (owner =
    * the runId): a SECOND writer — even one with a different runId —
    * fails loudly instead of interleaving renames and manifest appends
    * with ours, while a retry of a CRASHED run (same runId) reclaims the
    * stale lock and resumes, preserving the resume contract.
    *
    * Null and empty partition values are rejected explicitly (they cannot
    * be round-tripped through directory names or resumed reliably), and so
    * is a value the executors' file-name encoding cannot encode, before
    * anything is written. That check runs in the tasks of the distinct-value
    * scan, so it sees an executor's encoding, not the driver's; it assumes
    * every executor runs under the same one.
    *
    * @param maxPartitionsThisRun optional fault-injection/testing knob:
    *   commit at most this many partitions, then stop (simulates a crash)
    * @return records committed by THIS run
    */
  def write(df: DataFrame, outDir: String, partitionCol: String, runId: String,
            input: String = "", maxPartitionsThisRun: Int = Int.MaxValue): Seq[PartitionRecord] = {
    Files.createDirectories(Paths.get(outDir))
    WriterLock.withLock(outDir, s"resumable:$runId") {
    // clear every crashed run's temp root, whether or not its runId ever
    // retries (the lock guarantees no other writer is live here)
    StoreVersions.sweep(outDir)

    val done = committedPartitions(outDir)
    // scan 1: column-pruned distinct partition values, each checked in the
    // task that finds it against that executor's file-name encoding (the
    // executors create the directories; the driver's encoding may differ)
    val scanned = df.select(col(partitionCol).cast("string")).distinct().rdd
      .mapPartitions { rows =>
        val values = rows.map(r => Option(r.get(0)).map(_.toString).orNull).toVector
        val enc = fileNameEncoding
        val bad = unencodable(partitionCol, values.filter(_ != null), enc).toSet
        val where = s"${enc.name} under locale ${java.util.Locale.getDefault}"
        values.iterator.map(v => (v, if (bad(v)) where else null))
      }.collect()
    val allParts = scanned.map(_._1)
    require(!allParts.contains(null),
      s"null $partitionCol partition values are not resumable; filter or default them first")
    require(!allParts.contains(""),
      s"empty-string $partitionCol partition values are not resumable (hive maps them to " +
        "__HIVE_DEFAULT_PARTITION__); filter or default them first")
    val unwritable = scanned.filter(_._2 != null).sortBy(_._1)
    require(unwritable.isEmpty,
      s"$partitionCol partition value(s) " +
        s"${unwritable.take(5).map(v => s"'${v._1}'").mkString(", ")} cannot be directory " +
        s"names: the executors' file-name encoding (sun.jnu.encoding) is " +
        s"${unwritable.head._2}; run them under a UTF-8 locale or map the values to ones " +
        "that encoding holds first")
    val todo = allParts.sorted.filterNot(done).take(maxPartitionsThisRun)
    if (todo.isEmpty) Nil else {
    val todoSet = todo.toSet

    // scan 2: the single write pass over every pending partition, with
    // per-partition row counts observed from the same pass
    val tmpRoot = Paths.get(outDir, s"_tmp_$runId")
    val strCol = col(partitionCol).cast("string")
    val pending = df.where(strCol.isin(todo: _*)).withColumn("__part", strCol)
    val useObserve = todo.size <= ObserveMaxPartitions
    val obs = Observation(s"resumable_$runId")
    val observed =
      if (useObserve) {
        val metrics = todo.zipWithIndex.map { case (v, i) =>
          sum(when(col("__part") === v, 1L).otherwise(0L)).as(s"rows_$i") }
        pending.observe(obs, metrics.head, metrics.tail: _*)
      } else pending
    val t0 = System.nanoTime()
    observed.write.mode("overwrite").partitionBy("__part").parquet(tmpRoot.toString)
    StoreVersions.crashPoint(outDir, "written")
    val writeMillis = (System.nanoTime() - t0) / 1000000

    val rowCounts: Map[String, Long] =
      if (useObserve) {
        val metrics = obs.get
        todo.zipWithIndex.map { case (v, i) => v -> metrics(s"rows_$i").asInstanceOf[Long] }.toMap
      } else df.where(strCol.isin(todo: _*)).groupBy(strCol.as("__p")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val totalRows = math.max(1L, rowCounts.values.sum)

    // commit loop: atomic rename + manifest line per partition
    val dirs = Files.list(tmpRoot)
    val partDirs = try {
      import scala.jdk.CollectionConverters._
      dirs.iterator().asScala.toList
        .filter(p => p.getFileName.toString.startsWith("__part="))
        .map(p => (unescapePathName(p.getFileName.toString.stripPrefix("__part=")), p))
    } finally dirs.close()
    require(partDirs.map(_._1).toSet == todoSet,
      s"written partitions ${partDirs.map(_._1).toSet} != pending $todoSet")

    val out = scala.collection.mutable.ArrayBuffer.empty[PartitionRecord]
    for ((value, tmpDir) <- partDirs.sortBy(_._1)) {
      val tMove = System.nanoTime()
      val finalDir = Paths.get(outDir, s"$partitionCol=${tmpDir.getFileName.toString.stripPrefix("__part=")}")
      deleteRecursively(finalDir)
      Files.move(tmpDir, finalDir, StandardCopyOption.ATOMIC_MOVE)
      StoreVersions.crashPoint(outDir, s"moved $value")
      val rows = rowCounts.getOrElse(value, 0L)
      val moveMillis = (System.nanoTime() - tMove) / 1000000
      val rec = PartitionRecord(value, rows, dirBytes(finalDir),
        // apportion the shared write pass by row share + own move time
        // (share computed in Double: writeMillis * rows overflows Long for
        // ~1e13-row partitions at ~1e6 ms write passes)
        (writeMillis * (rows.toDouble / totalRows)).toLong + moveMillis, runId, input)
      appendManifest(outDir, rec) // commit point: manifest line makes it durable
      StoreVersions.crashPoint(outDir, s"committed $value")
      out += rec
    }
    deleteRecursively(tmpRoot)
    out.toSeq
    }
    }
  }

  /** Read back everything committed so far: one directory per manifest
    * line. Manifest/disk divergence (a committed partition whose directory
    * was deleted or lost) fails loudly rather than silently returning fewer
    * rows — the manifest is the source of truth for what a reader may rely
    * on. */
  def readCommitted(spark: SparkSession, outDir: String, partitionCol: String): DataFrame =
    readPartitionSet(spark, outDir, partitionCol, committedPartitions(outDir))

  /** Snapshot ids (run ids) in commit order. Every run that committed at
    * least one partition is a snapshot of the table — the manifest is
    * append-only and partitions are never rewritten, so the table "as of
    * run R" is exactly the manifest prefix through R's last record. */
  def snapshots(outDir: String): Seq[String] =
    readManifest(outDir).map(_.runId).distinct

  /** Time-travel read: the table as of the completion of `runId`'s commits
    * — partitions from manifest lines up to and including that run's last
    * record; later runs' partitions are invisible. The miniature of an
    * Iceberg snapshot read (snapshot id = run id, manifest prefix =
    * snapshot manifest list). Same loud manifest/disk-divergence contract
    * as [[readCommitted]]. */
  def readSnapshot(spark: SparkSession, outDir: String, partitionCol: String,
                   runId: String): DataFrame = {
    val recs = readManifest(outDir)
    val idx = recs.lastIndexWhere(_.runId == runId)
    require(idx >= 0,
      s"readSnapshot: unknown snapshot '$runId' in $outDir; known snapshots in order: " +
        snapshots(outDir).mkString(", "))
    readPartitionSet(spark, outDir, partitionCol, recs.take(idx + 1).map(_.partition).toSet)
  }

  private def readPartitionSet(spark: SparkSession, outDir: String,
                               partitionCol: String, wanted: Set[String]): DataFrame = {
    val prefix = s"$partitionCol="
    val s = Files.list(Paths.get(outDir))
    val onDisk = try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.toList
        .filter(_.getFileName.toString.startsWith(prefix))
        .map(p => unescapePathName(p.getFileName.toString.stripPrefix(prefix)) -> p.toString)
        .toMap
    } finally s.close()
    val missing = wanted -- onDisk.keySet
    require(missing.isEmpty,
      s"manifest/disk divergence in $outDir: committed partitions with no directory: " +
        missing.toSeq.sorted.mkString(", "))
    val paths = onDisk.filter { case (v, _) => wanted(v) }.values.toList.sorted
    if (paths.isEmpty) spark.emptyDataFrame
    else spark.read.parquet(paths: _*)
  }

  /** Deletes `path` and everything under it, if it exists; throws when any
    * entry cannot be deleted. The one recursive delete of the stored
    * layouts (resumable writes, tile rewrites, IVF version sweeps). */
  private[graft] def deleteRecursively(path: Path): Unit = {
    if (Files.exists(path)) {
      val s = Files.walk(path)
      try {
        s.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(Files.delete(_))
      } finally s.close()
    }
  }
}
