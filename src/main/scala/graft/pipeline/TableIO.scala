package graft.pipeline

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.SerializableConfiguration
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.charset.StandardCharsets
import java.util.Base64

/** Iceberg-shaped table facade over Parquet + a JSON checkpoint
  * manifest, giving snapshot/resume semantics in this sandbox (no
  * Iceberg jars on the classpath — SURVEY.md §7.1.8). The interface is
  * what the production job would call against Iceberg
  * (`readTable` / `appendSnapshot` / `pending`), so the swap is a
  * catalog config change, not a rewrite.
  *
  * Resume contract (north rule "resumable from snapshot + checkpoint
  * manifests"): each commit appends a snapshot directory
  * `snap-<k>/part-*.parquet` plus a line in `manifest.json` recording
  * the snapshot id, row count, schema and the caller's `tag` — what the
  * snapshot was computed under (an input key, a key scheme), committed
  * atomically with the data it describes. Pending work = input
  * anti-joined on the committed key column, so a re-run after a partial
  * failure processes only missing rows and converges to the identical
  * table.
  *
  * Commit protocol, the Iceberg writer's shape (data files straight into
  * the table, made visible by the manifest alone): a commit reserves
  * `snap-<k>` and writes it in ONE Spark job of its own over the query's
  * rows. The Hadoop conf is prepared once on the driver and reaches the
  * tasks as one broadcast. Each task writes its partition's file with
  * Spark's parquet writer (every `parquet.*` setting applies, and the
  * bytes are those `df.write.parquet` writes) under a `.`-prefixed
  * in-progress name, and moves it to `part-…parquet` only once Spark's
  * output commit coordinator authorizes that attempt, so one attempt
  * per partition lands and no `_temporary` dir, task or job rename, or
  * `_SUCCESS` marker is involved. Files are created through
  * [[NioLocalFileSystem]], a raw local file system: no child process
  * per file, and no `.crc` sidecar. The driver sums the committed
  * tasks' rows and installs the manifest line; until then no reader
  * sees the snapshot.
  *
  * Per-key resume: [[appendPending]] is the one gated form — a
  * keys-only [[hasPending]] probe, and only when something is pending
  * the persisted [[pending]] rows, the caller's build and the append; a
  * resume with nothing pending runs no stage work. [[TableIO.resumeExtract]]
  * stays ungated (`pending` straight into the append): its build is one
  * narrow map fused into the write, so the probe would only add a job
  * to a warm resume that otherwise runs in three.
  */
final class TableIO(val root: String) {
  import TableIO.Snapshot
  private val manifestPath = Paths.get(root, "manifest.json")

  /** One manifest line. `schema64` and `tag` follow the fixed leading
    * fields and are written only when non-empty; lines that lack them
    * (older commits) read them as "".
    */
  private def manifestLine(s: Snapshot): String =
    s"""{"id":${s.id},"dir":"${s.dir}","rows":${s.rows}""" +
      (if (s.schema64.isEmpty) "" else s""","schema64":"${s.schema64}"""") +
      (if (s.tag.isEmpty) "" else s""","tag":"${s.tag}"""") + "}"

  /** Every commit also files a copy of the live manifest under
    * `manifests/manifest-<id>.json` — an append-only history that makes
    * any past snapshot restorable ([[rollbackTo]]), since the snapshot
    * dirs themselves are never deleted by commits.
    */
  private def historyDir = Paths.get(root, "manifests")

  /** The ids that `pattern` captures from the entry names under `dir`. */
  private def idsIn(dir: java.nio.file.Path, pattern: scala.util.matching.Regex): Seq[Long] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.toArray.toSeq.flatMap(p => pattern.findFirstMatchIn(p.toString).map(_.group(1).toLong))
      finally s.close()
    }

  /** Ids are unique across the WHOLE history (incl. branches abandoned
    * by a rollback and orphaned reservations from failed writes), never
    * reused — a new commit after a rollback or a crash can't collide
    * with an existing snapshot dir. The snapshot dirs on disk count too,
    * including those whose commit never completed (crashed or failed
    * write), so a same-writer retry moves past its own orphaned
    * reservation instead of colliding with it forever.
    */
  private def nextId(): Long =
    (snapshots().map(_.id) ++ idsIn(historyDir, """manifest-(\d+)\.json""".r) ++
      idsIn(Paths.get(root), """snap-(\d+)$""".r)).maxOption.getOrElse(0L) + 1

  /** Reserve snapshot `id` by creating its data directory — an atomic
    * filesystem operation, so of two writers racing for the same id
    * exactly one proceeds. Orphaned reservations from crashed writes
    * don't wedge the table: [[nextId]] counts every on-disk dir, so a
    * retry simply claims the next free id.
    */
  private def reserveDir(id: Long): String = {
    val dir = s"snap-$id"
    Files.createDirectories(Paths.get(root))
    try { Files.createDirectory(Paths.get(root, dir)); dir }
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new IllegalStateException(
          s"snapshot id $id already reserved under $root — concurrent writer " +
            "detected; this table root is single-writer and the losing commit " +
            "fails loudly instead of silently overwriting")
    }
  }

  /** The raw live-manifest bytes a commit was computed against (None =
    * no manifest yet). Checked again immediately before the atomic
    * install: if another writer's commit landed in between, THIS commit
    * throws instead of silently erasing that writer's manifest line.
    * (Best-effort on a filesystem without compare-and-swap — the
    * Iceberg swap this facade mimics is atomic at the catalog; the
    * documented model stays single-writer per root, with violations
    * loud, not lossy. The written data and history record survive
    * either way for manual recovery.)
    */
  private def manifestBase(): Option[String] =
    if (Files.exists(manifestPath))
      Some(new String(Files.readAllBytes(manifestPath), StandardCharsets.UTF_8))
    else None

  /** Atomically install `lines` as the live manifest and file the
    * history copy for commit `id`, verifying the manifest is still the
    * one the commit was computed from.
    */
  private def commitManifest(lines: String, id: Long, base: Option[String]): Unit = {
    Files.createDirectories(historyDir)
    // CREATE_NEW: a same-id history file means another writer got here
    // first — fail rather than overwrite its record
    Files.write(historyDir.resolve(s"manifest-$id.json"),
      lines.getBytes(StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.CREATE_NEW,
      java.nio.file.StandardOpenOption.WRITE)
    if (manifestBase() != base)
      throw new IllegalStateException(
        s"manifest under $root changed while committing snapshot $id — " +
          "concurrent writer detected; this commit fails loudly instead of " +
          "erasing the other writer's commit (its data dir and history " +
          s"record manifest-$id.json remain on disk)")
    val tmp = Paths.get(root, ".manifest.tmp")
    Files.write(tmp, lines.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, manifestPath, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }

  def snapshots(): Seq[Snapshot] = {
    if (!Files.exists(manifestPath)) return Nil
    Files.readAllLines(manifestPath, StandardCharsets.UTF_8)
      .toArray(Array.empty[String]).toSeq.filter(_.nonEmpty).map { line =>
        // fixed field order written by commit(); no general JSON parse needed
        val id = """"id":(\d+)""".r.findFirstMatchIn(line).get.group(1).toLong
        val dir = """"dir":"([^"]+)"""".r.findFirstMatchIn(line).get.group(1)
        val rows = """"rows":(\d+)""".r.findFirstMatchIn(line).get.group(1).toLong
        def opt(field: String) = s""""$field":"([^"]*)"""".r
          .findFirstMatchIn(line).map(_.group(1)).getOrElse("")
        Snapshot(id, dir, rows, opt("schema64"), opt("tag"))
      }
  }

  /** Single-entry relation memo for [[readTable]]: resolving a parquet
    * relation costs a driver job (file listing + schema inference), and
    * resume paths read the same table several times per run (probe,
    * payload, downstream reads). Keyed by the LIVE manifest bytes — snapshots
    * are immutable and the manifest names exactly the visible set, so
    * equal manifest ⟹ the cached plan still reads the correct files;
    * any commit/rollback changes the manifest and misses the cache.
    * This memoizes plan METADATA within one TableIO instance, never
    * query results (r6, guide §1.2).
    */
  @volatile private var relCache: Option[(Option[String], SparkSession, DataFrame)] = None

  /** All committed data across snapshots, or `None` if nothing is
    * committed yet.
    */
  def readTable(spark: SparkSession): Option[DataFrame] = {
    val live = manifestBase()
    relCache match {
      case Some((m, s, df)) if m == live && (s eq spark) => Some(df)
      case _ =>
        val snaps = snapshots()
        if (snaps.isEmpty) None
        else {
          // commits record the schema inference would produce for the
          // written files in the manifest (Iceberg-style table metadata,
          // guide §6): when every visible snapshot agrees on it, the read
          // skips parquet schema inference — which costs a Spark job per
          // relation resolution. Any legacy or disagreeing snapshot falls
          // back to plain inference.
          val paths = snaps.map(s => s"$root/${s.dir}")
          val df = snaps.map(_.schema64).distinct match {
            case Seq(s64) if s64.nonEmpty =>
              val json = new String(Base64.getDecoder.decode(s64), StandardCharsets.UTF_8)
              spark.read.schema(DataType.fromJson(json).asInstanceOf[StructType])
                .parquet(paths: _*)
            case _ => spark.read.parquet(paths: _*)
          }
          relCache = Some((live, spark, df))
          Some(df)
        }
    }
  }

  /** Reserve the next snapshot dir and write `df` into it with ONE
    * Spark job, nothing read back ([[TableIO.writeParquet]]); the row
    * count is the committed tasks' own. The recorded schema is `df`'s
    * made nullable — what parquet inference returns for these files, as
    * the same JSON text — so [[readTable]] skips the per-relation
    * inference job.
    */
  private def writeSnapshot(df: DataFrame, tag: String): Snapshot = {
    // the tag is written into the manifest line unescaped
    require(tag.matches("[A-Za-z0-9._:+-]*"),
      s"snapshot tag '$tag' has a character outside [A-Za-z0-9._:+-]")
    val id = nextId()
    val dir = reserveDir(id)
    val rows = TableIO.writeParquet(df, s"$root/$dir")
    val schema = TableIO.asNullable(df.schema).json.getBytes(StandardCharsets.UTF_8)
    Snapshot(id, dir, rows, Base64.getEncoder.encodeToString(schema), tag)
  }

  /** Append `df` as a new snapshot tagged `tag`; manifest write is
    * atomic (tmp + move) so a crash mid-commit leaves the previous
    * snapshot intact. An append of no rows commits nothing: the
    * write's committed count is 0, so its reserved dir is removed, the
    * manifest stays byte-identical and the returned (uncommitted)
    * snapshot has `rows = 0` — a resume with nothing pending leaves no
    * trace and needs no emptiness probe of its own.
    */
  def appendSnapshot(df: DataFrame, tag: String = ""): Snapshot = {
    val base = manifestBase()
    val prev = snapshots()
    val snap = writeSnapshot(df, tag)
    if (snap.rows == 0L) {
      val files = Files.walk(Paths.get(root, snap.dir))
      try files.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
      finally files.close()
    } else
      commitManifest((prev :+ snap).map(manifestLine).mkString("", "\n", "\n"), snap.id, base)
    snap
  }

  /** The tag every live snapshot carries ("" if they differ or none
    * is live): the rewrites of the live table ([[mergeByKey]],
    * [[deleteWhere]], [[compact]]) keep it.
    */
  private def liveTag(): String = snapshots().map(_.tag).distinct match {
    case Seq(t) => t
    case _ => ""
  }

  /** True iff [[pending]] over `input` has any row, answered from
    * [[pending]]'s keys-only anti-join alone: the no-op resume's common
    * probe never re-attaches the payload. Emptiness of an anti-join
    * never needs deduplicated keys, so neither side is aggregated.
    */
  def hasPending(input: DataFrame, keyCol: String): Boolean =
    readTable(input.sparkSession) match {
      case None => !input.select(col(keyCol)).isEmpty
      case Some(committed) => !pendingKeys(input, committed, keyCol).isEmpty
    }

  /** Appends `build` over the input rows whose key is not yet
    * committed and returns the rows committed. Over a committed table
    * the keys-only [[hasPending]] probe runs first: with nothing pending
    * `build` is never called and 0 is returned. With nothing committed
    * every input row is pending, so there is no probe: an empty input
    * builds nothing and its empty append commits nothing. Otherwise the
    * [[pending]] rows are persisted for the build (which may read them
    * more than once) and released once the append is done, committed or
    * not. [[TableIO.resumeExtract]] skips the probe: its build is one
    * narrow map fused into the write, so there the probe would cost more
    * than it saves.
    */
  def appendPending(input: DataFrame, keyCol: String)(build: DataFrame => DataFrame): Long =
    if (readTable(input.sparkSession).nonEmpty && !hasPending(input, keyCol)) 0L
    else {
      val todo = pending(input, keyCol).persist(StorageLevel.MEMORY_AND_DISK)
      try appendSnapshot(build(todo)).rows
      finally todo.unpersist(blocking = false)
    }

  /** Hex md5 of the live manifest bytes (of no bytes while there is
    * none): a content key for the table, since snapshot dirs are
    * immutable and the manifest names exactly the visible set. Equal
    * digest ⟺ equal table content, answered without a Spark job.
    */
  def manifestDigest(): String =
    java.security.MessageDigest.getInstance("MD5").digest(
      if (Files.exists(manifestPath)) Files.readAllBytes(manifestPath) else Array.emptyByteArray)
      .map("%02x".format(_)).mkString

  /** Input keys with no committed row (null keys included: a null
    * equals no committed key). Duplicates stay; no caller needs them
    * removed.
    */
  private def pendingKeys(input: DataFrame, committed: DataFrame, keyCol: String): DataFrame =
    input.select(col(keyCol))
      .join(committed.select(col(keyCol)), Seq(keyCol), "left_anti")

  /** Input rows not yet present in the committed table, by key column.
    * Null-key rows can never be committed, so they are always pending.
    *
    * Two phases, so no payload column ever crosses an exchange: a
    * keys-only anti-join finds the pending keys (both scans prune to
    * the key column), and the input's full rows come back through a
    * semi join on null-safe equality against them. The semi join's
    * build side is sized by the input's keys, not by the committed
    * table, so wide columns (page html, document text) stay in their
    * scan. A single anti-join of the FULL input against the committed
    * keys would shuffle every payload byte once a mature committed
    * table outgrows the broadcast threshold (PlanSpec pins the pruned
    * shape). Neither join emits an input row twice, so duplicate keys
    * on either side need no `distinct()`.
    *
    * `input` is referenced twice (the keys branch and the payload
    * branch), which is free when Catalyst can column-prune it to the
    * key (any relational source: parquet, committed tables). An input
    * that Catalyst canNOT prune through — a typed `.map` synthesizing
    * rows — is computed in full in BOTH branches; for those, resolve
    * pending keys over a cheap key-only projection first and build
    * payload rows only for survivors (the
    * [[graft.ops.CorpusOps.corpusEndToEnd]] stage-E shape, via
    * [[graft.ops.ExtractOps.docUrlCol]]).
    */
  def pending(input: DataFrame, keyCol: String): DataFrame =
    readTable(input.sparkSession) match {
      case None => input
      case Some(committed) =>
        val keys = pendingKeys(input, committed, keyCol).select(col(keyCol).as("__graft_key"))
        input.join(keys, col(keyCol) <=> col("__graft_key"), "left_semi")
    }

  /** `MERGE INTO`-shaped upsert (Iceberg's idempotent-sink analog, the
    * Neo4j `UNWIND…MERGE` replacement of SURVEY §2.1 S5): committed rows
    * whose key collides with `updates` are replaced, new keys appended.
    * Implemented as survivors (committed anti-join updates) + updates,
    * written as a full replacement snapshot — a re-run with identical
    * input converges to the identical table (idempotent).
    */
  def mergeByKey(updates: DataFrame, keyCol: String): Snapshot = {
    val merged = readTable(updates.sparkSession) match {
      case None => updates
      case Some(committed) =>
        val survivors = committed.join(updates.select(col(keyCol)), Seq(keyCol), "left_anti")
        survivors.unionByName(updates)
    }
    replaceWith(merged, liveTag())
  }

  /** Replace the whole table content with `df` as a single new snapshot
    * tagged `tag` (Iceberg `overwritePartitions` analog). Earlier
    * snapshot dirs stay on disk for rollback; the manifest only
    * references the new one. Unlike [[appendSnapshot]], an empty `df`
    * still commits: the table then holds no rows.
    */
  def replaceWith(df: DataFrame, tag: String = ""): Snapshot = {
    val base = manifestBase()
    // materialize BEFORE truncating the manifest: df may read prior snapshots
    val snap = writeSnapshot(df, tag)
    commitManifest(manifestLine(snap) + "\n", snap.id, base)
    snap
  }

  /** Scoped delete — the `delete_by_report` / `delete_by_environment`
    * analog (load_to_neo4j.py:871-1022): rows matching `condition` are
    * removed by rewriting the survivors as a replacement snapshot (the
    * copy-on-write DELETE of table formats without positional deletes).
    * A re-extract of the deleted scope then converges via
    * [[mergeByKey]]/[[pending]]. No-op (None) on an empty table.
    */
  def deleteWhere(spark: SparkSession, condition: org.apache.spark.sql.Column): Option[Snapshot] =
    // SQL DELETE semantics: remove rows where the condition is TRUE;
    // rows where it evaluates NULL (e.g. a NULL key against isin) are
    // survivors — a bare !condition would silently destroy them
    readTable(spark).map(committed =>
      replaceWith(committed.filter(!coalesce(condition, lit(false))), liveTag()))

  /** Key-list convenience over [[deleteWhere]] (delete one report's /
    * environment's rows by id).
    */
  def deleteByKeys(spark: SparkSession, keyCol: String, keys: Seq[String]): Option[Snapshot] =
    deleteWhere(spark, col(keyCol).isin(keys: _*))

  /** Snapshot compaction (Iceberg rewrite_data_files analog): after
    * many incremental [[appendSnapshot]] commits the live view unions
    * many small snapshot dirs; compact rewrites them as ONE snapshot.
    * Metadata-compatible with rollback — the old dirs stay on disk and
    * the pre-compaction view remains restorable from history. No-op
    * (None) when the view already has a single snapshot.
    */
  def compact(spark: SparkSession): Option[Snapshot] =
    if (snapshots().size <= 1) None
    else readTable(spark).map(replaceWith(_, liveTag()))

  /** Restore the table to a past snapshot by reinstalling that commit's
    * manifest as the live view (Iceberg rollback analog — the data dirs
    * were never deleted, so this is a metadata-only operation). Ids are
    * never reused, so commits after a rollback keep working; the
    * abandoned branch's dirs stay on disk, referenced only by history.
    * The history manifest holds the snapshots' tags too, so the
    * restored view carries the tags it was committed with.
    */
  def rollbackTo(snapshotId: Long): Unit = {
    val src = historyDir.resolve(s"manifest-$snapshotId.json")
    require(Files.exists(src), s"no snapshot $snapshotId in $historyDir")
    val tmp = Paths.get(root, ".manifest.tmp")
    Files.copy(src, tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, manifestPath, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }
}

object TableIO {
  final case class Snapshot(id: Long, dir: String, rows: Long,
                            schema64: String = "", tag: String = "")

  /** `t` with every struct field, array element and map value nullable —
    * parquet schema inference's view of data written with type `t`.
    */
  private def asNullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.map(f => f.copy(dataType = asNullable(f.dataType), nullable = true)))
    case ArrayType(e, _) => ArrayType(asNullable(e), containsNull = true)
    case MapType(k, v, _) => MapType(asNullable(k), asNullable(v), valueContainsNull = true)
    case other => other
  }

  /** Writes `df` as parquet files into the existing, empty dir `dir` in
    * one Spark job and returns the rows committed. Parquet's
    * [[ParquetFileFormat.prepareWrite]] prepares the Hadoop conf once on
    * the driver and the conf travels to the tasks as one broadcast, so
    * no task deserializes a conf of its own; that conf alone maps the
    * `file` scheme to [[NioLocalFileSystem]]. The job runs under a SQL
    * execution id of `df`'s query, so job descriptions, job tags and
    * `QueryExecutionListener`s see it as they see Spark's own writes.
    * The committed tasks' row counts sum to the result: one count per
    * partition, exact under task retry and speculation.
    */
  private def writeParquet(df: DataFrame, dir: String): Long = {
    val spark = df.sparkSession
    val format = new ParquetFileFormat()
    val schema = df.schema
    schema.foreach(f => require(format.supportDataType(f.dataType),
      s"parquet cannot hold column ${f.name} of type ${f.dataType.sql}"))
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = format.prepareWrite(spark, job, Map.empty, schema)
    // files are created through NioLocalFileSystem; the JVM-wide
    // FileSystem cache already holds the session's checksummed one
    job.getConfiguration.set("fs.file.impl", classOf[NioLocalFileSystem].getName)
    job.getConfiguration.setBoolean("fs.file.impl.disable.cache", true)
    val conf = spark.sparkContext.broadcast(new SerializableConfiguration(job.getConfiguration))
    val writeId = java.util.UUID.randomUUID().toString
    val qe = df.queryExecution
    val parts = try SQLExecution.withNewExecutionId(qe, Some("save")) {
      spark.sparkContext.runJob(qe.toRdd, (ctx: TaskContext, rows: Iterator[InternalRow]) =>
        writePart(ctx, rows, dir, writeId, schema, factory, conf.value.value))
    } finally conf.destroy()
    parts.sum
  }

  /** A write task: `rows` into one parquet file of `dir` (none for an
    * empty partition); returns the rows committed. The file is written
    * under a `.`-prefixed in-progress name of this attempt, which no
    * reader lists, and moved (atomically, `java.nio`) to its final
    * `part-` name only once the driver's output commit coordinator
    * authorizes this attempt ([[org.apache.spark.TaskCommit]]), so
    * exactly one attempt per partition commits. A failed or denied
    * attempt deletes its in-progress file. `conf` is the broadcast
    * value, shared by every task of the executor: read only.
    */
  private def writePart(ctx: TaskContext, rows: Iterator[InternalRow], dir: String,
                        writeId: String, schema: StructType, factory: OutputWriterFactory,
                        conf: Configuration): Long =
    if (!rows.hasNext) 0L
    else {
      val attempt = new TaskAttemptContextImpl(conf, new TaskAttemptID(
        "tableio", ctx.stageId(), TaskType.MAP, ctx.partitionId(), ctx.attemptNumber()))
      val name = f"part-${ctx.partitionId()}%05d-$writeId-c000${factory.getFileExtension(attempt)}"
      val (file, inProgress) = (Paths.get(dir, name), Paths.get(dir, s".$name.${ctx.taskAttemptId()}"))
      try {
        var n = 0L
        val out = factory.newInstance(inProgress.toString, schema, attempt)
        try rows.foreach { r => out.write(r); n += 1 } finally out.close()
        org.apache.spark.TaskCommit(Files.size(inProgress), n) {
          Files.move(inProgress, file, StandardCopyOption.ATOMIC_MOVE)
        }
        n
      } catch {
        case t: Throwable => Files.deleteIfExists(inProgress); throw t
      }
    }

  /** Resumable run: extract + commit only pages whose url is not yet in
    * the output table. Returns the number of newly committed rows; a run
    * with nothing pending commits no snapshot.
    * [[TableIO.pending]]'s two-phase shape keeps page bodies out of the
    * anti-join exchanges.
    */
  def resumeExtract(io: TableIO, pages: Dataset[PageRow], charset: String = "utf-8",
                    numPartitions: Int = 0): Long = {
    val spark = pages.sparkSession
    import spark.implicits._
    val todo = io.pending(pages.toDF(), "url").as[PageRow]
    io.appendSnapshot(ExtractPipeline.run(todo, charset, numPartitions).toDF()).rows
  }
}
