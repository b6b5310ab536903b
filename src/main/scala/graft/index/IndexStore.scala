package graft.index

import java.nio.file.{Files, Path, Paths}
import scala.util.Try
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet-backed chunk store (the Qdrant-collection analog, SURVEY.md
  * §7.1).
  *
  * Layout: `{root}/chunks` partitioned by `chunkType` — the progressive-
  * disclosure partition column (metadata searched first ⇒ partition pruning
  * skips implementation/relation files entirely, the reference's "90% speed
  * boost" re-expressed as storage layout); `{root}/file_state` drives
  * incremental diffs.
  *
  * Writes are copy-on-write table swaps (write `_tmp`, atomic dir move) —
  * the parquet stand-in for a Delta MERGE; on a cluster deployment the same
  * pipeline writes `MERGE INTO` keyed on the deterministic `pointId`
  * (idempotent upsert, reference storage/qdrant.py:1423-1430).
  */
object IndexStore {

  def chunksPath(root: String) = s"$root/chunks"
  def statePath(root: String) = s"$root/file_state"

  // Staging names stay as earlier builds wrote them, so their leftovers
  // still heal. Partition staging (`chunks_ptmp_<pt>`, `chunks_pold_<pt>`)
  // lives OUTSIDE the table: a `chunkType=metadata_tmp` sibling would
  // register as a phantom partition value during discovery.
  private def tmpOf(path: String): Path = Paths.get(path + "_tmp")
  private def oldOf(path: String): Path = Paths.get(path + "_old")
  private val PartOld = "_pold_"

  /** The one copy-on-write swap: write `tmp`, move `target` aside to
    * `old`, move `tmp` in, drop `old`.
    */
  private def swap(target: Path, tmp: Path, old: Path)(write: String => Unit): Unit = {
    deleteRecursive(tmp)
    write(tmp.toString)
    deleteRecursive(old)
    if (Files.exists(target)) Files.move(target, old)
    Files.createDirectories(target.toAbsolutePath.getParent)
    Files.move(tmp, target)
    deleteRecursive(old)
  }

  /** One rule for every [[swap]] leftover: a crash between its two moves
    * leaves `old` with `target` missing, so restore it (rather than read
    * the store as absent, full-reindex and lose manual memories);
    * otherwise `target` is the newer data and `old` goes.
    */
  private def heal(target: Path, old: Path): Unit =
    if (Files.exists(old)) {
      if (Files.exists(target)) deleteRecursive(old)
      else { Files.createDirectories(target.toAbsolutePath.getParent); Files.move(old, target) }
    }

  /** Heal the table swap of `path`, then each of its partition swaps. */
  private def recover(path: String): Unit = {
    val p = Paths.get(path).toAbsolutePath
    heal(p, oldOf(path))
    if (Files.exists(p.getParent)) {
      val prefix = p.getFileName.toString + PartOld
      import scala.jdk.CollectionConverters._
      val l = Files.list(p.getParent)
      try l.iterator().asScala.toVector
        .filter(_.getFileName.toString.startsWith(prefix))
        .foreach(o => heal(p.resolve("chunkType=" + o.getFileName.toString.stripPrefix(prefix)), o))
      finally l.close()
    }
  }

  def exists(root: String): Boolean = {
    recover(chunksPath(root))
    Files.exists(Paths.get(chunksPath(root)))
  }

  def readChunks(spark: SparkSession, root: String): DataFrame = {
    recover(chunksPath(root))
    spark.read.parquet(chunksPath(root))
  }

  def readState(spark: SparkSession, root: String): Option[DataFrame] = {
    recover(statePath(root))
    if (Files.exists(Paths.get(statePath(root)))) Some(spark.read.parquet(statePath(root)))
    else None
  }

  private def deleteRecursive(p: Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
    }

  /** Copy-on-write overwrite of a whole table ([[swap]]). */
  def overwrite(df: DataFrame, path: String, partitionCols: Seq[String] = Seq.empty): Unit = {
    recover(path) // heal a half-finished previous swap before reading lineage
    swap(Paths.get(path), tmpOf(path), oldOf(path)) { tmp =>
      val w = df.write.mode(SaveMode.Overwrite)
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(tmp)
    }
  }

  def writeChunks(df: DataFrame, root: String): Unit = {
    Files.createDirectories(Paths.get(root))
    overwrite(df, chunksPath(root), Seq("chunkType"))
  }

  /** Partition-selective COW rewrite (guide §6): replace ONLY the
    * `chunkType=<pt>` partition of the chunk store with `df` — which must
    * NOT carry the chunkType column (partition values are directory-
    * encoded). A single-partition upsert (addManualMemory's one metadata
    * chunk) rewrites that partition's bytes instead of the whole store,
    * and the read side prunes to the same partition. Same [[swap]] and
    * crash recovery as a table write.
    */
  def replaceTypePartition(df: DataFrame, root: String, pt: String): Unit = {
    val chunks = chunksPath(root)
    recover(chunks)
    swap(Paths.get(chunks, s"chunkType=$pt"), Paths.get(chunks + s"_ptmp_$pt"),
        Paths.get(chunks + PartOld + pt)) { tmp =>
      df.write.mode(SaveMode.Overwrite).parquet(tmp)
    }
  }

  def writeState(df: DataFrame, root: String): Unit = {
    Files.createDirectories(Paths.get(root))
    overwrite(df, statePath(root))
  }

  /** Small-file compaction for the chunk store — the q69 bin-packing plan
    * EXECUTED: rewrite the table so data files approach `targetBytes`
    * instead of mirroring upsert history (every incremental merge adds
    * task-sized files; thousands of upserts would otherwise decay scan
    * performance into open-file overhead). Output file count =
    * ceil(totalBytes / targetBytes); `repartitionByRange(chunkType,
    * chunkId)` hands each writer a contiguous slice of one partition, so
    * files land near the target and stay clustered by the progressive-
    * disclosure partition column. Same COW swap as every other write —
    * readers never see a half-compacted table. Returns (filesBefore,
    * filesAfter).
    */
  def compact(spark: SparkSession, root: String, targetBytes: Long = 128L << 20): (Int, Int) = {
    recover(chunksPath(root))
    def parquetFiles(p: Path): Seq[Path] = {
      import scala.jdk.CollectionConverters._
      if (!Files.exists(p)) Seq.empty
      else {
        val walk = Files.walk(p) // must be closed: each walk holds open DirectoryStreams
        try walk.iterator().asScala.filter(f => f.toString.endsWith(".parquet")).toVector
        finally walk.close()
      }
    }
    val dir = Paths.get(chunksPath(root))
    val before = parquetFiles(dir)
    if (before.isEmpty) return (0, 0) // absent/empty store: nothing to rewrite
    val total = before.map(Files.size).sum
    val nOut = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
    // steady state of scheduled maintenance: already at (or under) the
    // target layout — skip the full-table rewrite entirely
    if (before.size <= nOut) return (before.size, before.size)
    val df = spark.read.parquet(chunksPath(root))
      .repartitionByRange(nOut, col("chunkType"), col("chunkId"))
    overwrite(df, chunksPath(root), Seq("chunkType"))
    (before.size, parquetFiles(dir).size)
  }

  /** Drop the incremental file_state so the NEXT index is a full pass.
    * Called by clear-collection: leaving stale state behind would make the
    * next index diff against files whose chunks were just deleted and
    * parse nothing.
    */
  def clearState(root: String): Unit = {
    val state = statePath(root)
    Seq(Paths.get(state), oldOf(state), tmpOf(state)).foreach(deleteRecursive)
  }
}
