package graft.ext

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, MapType, StringType, StructType}

/** The lifecycle of a stored index partitioned by each row's
  * precomputed HOME, written once for the three families that use it:
  * the MinHash band index ([[Dedup.writeBandIndex]], hex `pfx=` dirs),
  * the perceptual-hash index ([[Dedup.writeHashIndex]], int `pfx=`
  * dirs) and the IVF layout ([[Similarity.writeIvfIndex]], int `cell=`
  * dirs). Serving and maintenance prune at the partition level to the
  * homes a batch can touch — the layout shape of REPOSE (ICDE'21).
  *
  * A family supplies its rows, its [[Family]] (partition column and
  * type, marker name), its dir count and its marker body. This module
  * owns the rest: the layout marker, the one-file-per-dir write, the
  * pinned one-level read (its schema from a footer, no Spark job), the
  * CDC update (merge once, locate, rewrite) and the crash-safe swap.
  * Every filesystem is resolved through `Path`, never
  * `FileSystem.get(new URI(dir))`, which throws `URISyntaxException`
  * on unescaped paths (spaces, `%`) that every `read.parquet` call
  * handles fine. */
private[graft] object PartitionedIndex {

  /** A partition value type: the Spark type the column is pinned to,
    * how a dir name's value parses and how a collect decodes it. */
  final case class Key[K](dataType: DataType, parse: String => Option[K],
                          encoder: Encoder[K])
  val StringKey: Key[String] = Key(StringType, Some(_), Encoders.STRING)
  val IntKey: Key[Int] = Key(IntegerType, _.toIntOption, Encoders.scalaInt)

  /** One index family. `name` spells the public entry points
    * (`"Band"` → `writeBandIndex` / `updateBandIndex`); `persists`
    * names what the marker holds and `dirNoun` what a dir is called,
    * for messages and job labels. */
  final case class Family[K](name: String, partCol: String, key: Key[K],
                             marker: String, persists: String,
                             dirNoun: String) {
    def writer: String = s"write${name}Index"
    def updater: String = s"update${name}Index"
  }

  private def fsFor(s: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(s.sparkContext.hadoopConfiguration)

  // ---- marker: the family's layout constants, persisted IN the index
  // (a `_`-prefixed file, invisible to parquet readers), so serve and
  // maintenance read them back and can never band or assign a probe
  // differently than the rows on disk

  private def writeMarker(s: SparkSession, dir: String, f: Family[_],
                          body: String): Unit = {
    val out = fsFor(s, dir).create(new Path(s"$dir/${f.marker}"), true)
    try out.write(body.getBytes("UTF-8"))
    finally out.close()
  }

  /** The marker body of the `f` layout at `dir`. Raises on a dir that
    * is not one, telling a pre-marker layout (partition dirs present,
    * marker absent — rebuildable) from "not an index at all". */
  def readMarker(s: SparkSession, dir: String, f: Family[_]): String = {
    val fs = fsFor(s, dir)
    val p = new Path(s"$dir/${f.marker}")
    require(fs.exists(p), {
      val dirP = new Path(dir)
      val preMarker = fs.exists(dirP) &&
        fs.listStatus(dirP).exists(_.getPath.getName.startsWith(s"${f.partCol}="))
      if (preMarker)
        s"$dir has ${f.partCol}= partition dirs but no ${f.marker} " +
          s"marker — a pre-marker ${f.writer} layout; rebuild it with " +
          s"${f.writer} (indexes are rebuildable) to persist the ${f.persists}"
      else
        s"$dir is not a ${f.writer} layout (no ${f.marker} marker)"
    })
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** The `key=int` lines of a marker body. */
  def markerInts(body: String): Map[String, Int] =
    body.linesIterator.filter(_.contains("="))
      .map { l => val Array(k, v) = l.split("=", 2); k -> v.trim.toInt }
      .toMap

  // ---- write

  /** Write-task count for a partitioned-layout write: the stage is
    * FILE-count-bound, not byte-bound (one parquet open/close per
    * dir dominates), so it wants core-count parallelism regardless
    * of `spark.sql.shuffle.partitions` — under a streaming sink's
    * 8-partition regime a 1024-dir layout write ran 8 writers ×
    * 128 sequential file opens (measured 14–16 s at sf0.1 vs 2.6 s
    * at 32 writers). Scale-adaptive (`defaultParallelism` = total
    * cores on a cluster), capped at the dir count so a small layout
    * never schedules empty writers, and EXPLICIT so AQE cannot
    * coalesce the exchange back into a handful of straggler
    * writers. Hash-partitioning on the dir column keeps the one-
    * file-per-dir invariant at any task count. */
  private def layoutWriteParallelism(s: SparkSession, nDirs: Long): Int =
    math.max(1L, math.min(nDirs, s.sparkContext.defaultParallelism.toLong)).toInt

  /** `rows` written `partitionBy(f.partCol)`, one file per dir: the
    * repartition on the dir column lands each dir wholly in one task
    * (without it a build writes up to tasks × dirs files and is
    * file-count-bound in object-store metadata: BENCH_R15B_SCALE.json). */
  private def writeLayout(rows: DataFrame, f: Family[_], outDir: String,
                          nDirs: Long): Unit =
    rows.repartition(layoutWriteParallelism(rows.sparkSession, nDirs),
        col(f.partCol))
      .write.mode("overwrite").partitionBy(f.partCol).parquet(outDir)

  /** Build a whole `f` layout of `nDirs` dirs at `outDir`, then its
    * marker holding `markerBody`. */
  def write(rows: DataFrame, f: Family[_], outDir: String, nDirs: Long,
            markerBody: String): Unit = {
    JobLabel(rows.sparkSession, s"${f.writer}: build+write layout") {
      writeLayout(rows, f, outDir, nDirs)
    }
    writeMarker(rows.sparkSession, outDir, f, markerBody)
  }

  // ---- read

  /** The key Spark's parquet writer stores its row schema under in
    * every file's footer. */
  private val SparkRowMetadata = "org.apache.spark.sql.parquet.row.metadata"

  /** The data schema Spark's writer stored in `leaf`'s footer, read on
    * the driver: `s.read.parquet(leaf).schema` would run a Spark job
    * to read this one footer. Nullable throughout, as a parquet read
    * reports it. A leaf that has no stored schema was not written by
    * Spark, so not by `f.writer`. */
  private def leafSchema(s: SparkSession, leaf: Path, f: Family[_]): StructType = {
    val in = ParquetFileReader.open(
      HadoopInputFile.fromPath(leaf, s.sparkContext.hadoopConfiguration))
    val json = try Option(in.getFooter.getFileMetaData.getKeyValueMetaData
        .get(SparkRowMetadata))
      finally in.close()
    require(json.nonEmpty,
      s"$leaf holds no Spark row schema — not a ${f.writer} layout; " +
        s"rebuild it with ${f.writer} (indexes are rebuildable)")
    nullable(DataType.fromJson(json.get)).asInstanceOf[StructType]
  }

  /** Spark's `asNullable`, which is not public. */
  private def nullable(t: DataType): DataType = t match {
    case st: StructType => StructType(st.fields.map(x =>
      x.copy(dataType = nullable(x.dataType), nullable = true)))
    case ArrayType(e, _) => ArrayType(nullable(e), containsNull = true)
    case MapType(k, v, _) => MapType(nullable(k), nullable(v), valueContainsNull = true)
    case other => other
  }

  /** The layout's `partCol=` dirs whose value `keep` accepts, read
    * with ONE level of listing and a PINNED schema. A serve against a
    * billion-row index must not pay a full-layout leaf-file discovery
    * to read 60 dirs (measured at sf0.1: 2.7 s → 0.2–0.4 s for a
    * 1024-dir layout); the snapshot is re-listed per call, so other
    * writers' changes stay visible. The schema is pinned because
    * partition-type INFERENCE over a dir subset is not stable: an
    * all-numeric subset of hex dirs infers INT ('07' → 7), and a union
    * with string-typed builder rows would then miss the real dir and
    * keep deleted rows live. So the data schema comes from ONE leaf's
    * footer, read on the driver with no Spark job ([[leafSchema]]) —
    * a read dir's first, else any dir's (an interrupted swap can leave
    * an empty dir) — and the partition column is appended as
    * `f.key`'s type. When no accepted dir exists the result is an
    * empty frame of that schema. Callers keep their own `isin` filter;
    * the listing only narrows WHERE the read looks. */
  def read[K](s: SparkSession, indexDir: String, f: Family[K],
              keep: K => Boolean = (_: K) => true): DataFrame = {
    val fs = fsFor(s, indexDir)
    val prefix = f.partCol + "="
    val all = fs.listStatus(new Path(indexDir)).iterator
      .map(_.getPath.getName)
      .filter(_.startsWith(prefix))
      .flatMap(n => f.key.parse(n.drop(prefix.length)).map(_ -> s"$indexDir/$n"))
      .toIndexedSeq
    val dirs = all.collect { case (v, d) if keep(v) => d }
    val leaf = (dirs.iterator ++ all.iterator.map(_._2)).flatMap { d =>
      fs.listStatus(new Path(d))
        .find(_.getPath.getName.endsWith(".parquet"))
        .map(_.getPath)
    }.nextOption()
    require(leaf.nonEmpty,
      s"$indexDir holds no ${f.partCol}= dir with a parquet file to take " +
        s"the ${f.writer} schema from")
    val schema = leafSchema(s, leaf.get, f)
      .add(f.partCol, f.key.dataType, nullable = true)
    if (dirs.isEmpty) s.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    else s.read.schema(schema).option("basePath", indexDir).parquet(dirs: _*)
  }

  /** The distinct `f.partCol` values of `homes`, sorted: deduped
    * within each partition, then on the driver, so the collect runs
    * no exchange. Bounded by the partition count times the layout's
    * dir count. */
  def distinctKeys[K: Ordering](homes: DataFrame, f: Family[K]): Array[K] =
    homes.select(f.partCol).as(f.key.encoder)
      .mapPartitions(_.toSet.iterator)(f.key.encoder)
      .collect().distinct.sorted

  // ---- CDC update

  /** Apply a CDC change batch to the `f` layout at `indexDir` IN
    * PLACE, rewriting ONLY the dirs the changed ids live in — old
    * homes and new homes both count (an update whose payload moves
    * its home touches both). `rows` builds the family's index rows
    * from the batch's upserts (the latest-`seqCol` change per id,
    * `opCol` not `d`). Each step's jobs carry an `f.updater` label:
    *
    *  1. MERGE: the latest changes and their index rows are each
    *     checkpointed locally, so the batch is merged and `rows` runs
    *     ONCE for both steps below; the touched ids are collected to
    *     the driver (bounded by the batch, as a broadcast of them
    *     would be). An id whose latest `seqCol` holds two changes
    *     raises here, naming the id, before anything is written;
    *  2. LOCATE: the homes of the index rows holding a touched id (a
    *     column-pruned `(id, home)` scan) and of the new rows, in ONE
    *     collect with no exchange ([[distinctKeys]]);
    *  3. REWRITE: survivors (touched dirs minus touched ids, read
    *     pruned) plus the new rows land in a sibling temp layout that
    *     fully materializes before any live dir moves;
    *  4. SWAP: [[swapPrefixDirs]]; a dir emptied by deletes stays
    *     deleted, untouched dirs' files are never opened for write.
    *
    * Returns the touched partition values, sorted (bounded by the
    * layout's `nDirs`). */
  def update[K: Ordering](indexDir: String, f: Family[K],
                          changes: DataFrame, idCol: String,
                          seqCol: String, opCol: String, nDirs: Long)(
      rows: DataFrame => DataFrame): Array[K] = {
    val s = changes.sparkSession
    val pc = f.partCol
    val (ids, newRows) = JobLabel(s, s"${f.updater}: merge change batch") {
      val latest = graft.etl.Merge.latestChanges(changes, idCol, seqCol)
        .localCheckpoint(eager = false)
      (latest.select(idCol).collect().map(_.get(0)),
        rows(latest.where(col(opCol) =!= lit("d"))).localCheckpoint(eager = false))
    }
    // the merge keeps every change tied at an id's latest seq; each
    // would land in the index as a row of its own
    val tied = ids.groupBy(identity).collect {
      case (id, n) if n.length > 1 => String.valueOf(id)
    }.toSeq.sorted
    require(tied.isEmpty,
      s"${f.updater}: ${tied.size} id(s) have more than one change at " +
        s"their latest $seqCol: ${tied.take(10).mkString(", ")}")
    // a null id (or a null in `ids`) leaves `hit` null: located
    // nowhere and, through the coalesce, surviving — as in an equi-join
    val hit = col(idCol).isin(ids.toIndexedSeq: _*)
    val touched = JobLabel(s, s"${f.updater}: locate touched ${f.dirNoun}") {
      distinctKeys(read(s, indexDir, f).where(hit).select(pc)
        .unionByName(newRows.select(pc)), f)
    }
    if (touched.nonEmpty) {
      val survivors = read(s, indexDir, f, touched.toSet)
        .where(col(pc).isin(touched.toIndexedSeq: _*))
        .where(!coalesce(hit, lit(false)))
      val tmpDir = s"$indexDir.upd-${java.util.UUID.randomUUID().toString.take(8)}"
      JobLabel(s, s"${f.updater}: rewrite touched ${f.dirNoun}") {
        writeLayout(survivors.unionByName(
            newRows.select(survivors.columns.toIndexedSeq.map(col): _*)),
          f, tmpDir, nDirs)
      }
      swapPrefixDirs(s, indexDir, tmpDir, touched.toIndexedSeq.map(v => s"$pc=$v"))
    }
    touched
  }

  // ---- swap

  /** Install the fresh dirs a CDC update wrote under `tmpDir` over
    * their live homes in `indexDir`, with a recovery copy alive at
    * every step: each live dir is renamed ASIDE into `tmpDir` (never
    * deleted first), then its replacement renames in, and `tmpDir` —
    * which now holds every displaced old dir — is deleted ONLY after
    * every dir has landed. A rename that fails (throws, or returns
    * `false`) raises at once; then, as after a process that dies
    * mid-loop, `tmpDir` survives holding both the not-yet-installed
    * fresh dirs and the displaced `aside-<dir>` copies, so no dir's
    * data has a single remaining copy at any point. The one residual
    * window is a failure BETWEEN the aside-rename and the install-
    * rename of a single dir: that dir is then absent from the live
    * layout until the operator is re-run or `$tmpDir/aside-<dir>` is
    * renamed back — absent, not lost. A dir emptied by deletes (no
    * fresh dir) is renamed aside and never replaced, so it stays
    * deleted on success and recoverable on failure. */
  def swapPrefixDirs(s: SparkSession, indexDir: String, tmpDir: String,
                     dirs: Seq[String]): Unit = {
    val fs = fsFor(s, tmpDir)
    def move(from: Path, to: Path): Unit =
      if (!fs.rename(from, to))
        throw new java.io.IOException(s"rename $from -> $to failed; " +
          s"$tmpDir keeps the fresh and aside-* copies for recovery")
    dirs.foreach { d =>
      val live = new Path(s"$indexDir/$d")
      val fresh = new Path(s"$tmpDir/$d")
      if (fs.exists(live)) move(live, new Path(s"$tmpDir/aside-$d"))
      if (fs.exists(fresh)) move(fresh, live)
    }
    // every dir landed — only now is the recovery copy redundant
    fs.delete(new Path(tmpDir), true)
    ()
  }
}
