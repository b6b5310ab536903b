package graft.index

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.DataFrame
import graft.SparkSpec

/** Crash windows of the store's copy-on-write swaps. Each test lays out by
  * hand the directories a crash would leave between two renames, then
  * checks what the next `readChunks`/`readState` returns and which
  * leftovers survive.
  */
class IndexStoreSpec extends SparkSpec {
  import spark.implicits._

  private def chunks(rows: (String, String, Int)*): DataFrame =
    rows.toDF("chunkId", "chunkType", "v")

  private def state(rows: (String, Int)*): DataFrame = rows.toDF("filePath", "v")

  private def writeTable(df: DataFrame, path: String, partitioned: Boolean): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitioned) w.partitionBy("chunkType") else w).parquet(path)
  }

  private def chunkRows(root: String): Set[(String, String, Int)] =
    IndexStore.readChunks(spark, root).select("chunkId", "chunkType", "v")
      .as[(String, String, Int)].collect().toSet

  private def stateRows(root: String): Option[Set[(String, Int)]] =
    IndexStore.readState(spark, root)
      .map(_.select("filePath", "v").as[(String, Int)].collect().toSet)

  private def exists(p: String): Boolean = Files.exists(Paths.get(p))

  private def newRoot(): String = Files.createTempDirectory("graft_store_crash").toString

  private val v1 = Seq(("a", "metadata", 1), ("b", "implementation", 1))
  private val v2 = Seq(("a", "metadata", 2), ("c", "implementation", 2))

  test("chunks moved to _old with the target missing: the old table is restored") {
    val root = newRoot()
    writeTable(chunks(v1: _*), s"$root/chunks_old", partitioned = true)
    assert(!exists(s"$root/chunks"))
    assert(IndexStore.exists(root))
    assert(chunkRows(root) == v1.toSet)
    assert(!exists(s"$root/chunks_old"))
  }

  test("chunk partition moved to _pold_metadata: the partition is restored") {
    val root = newRoot()
    writeTable(chunks(v1: _*), s"$root/chunks", partitioned = true)
    Files.move(Paths.get(s"$root/chunks/chunkType=metadata"), Paths.get(s"$root/chunks_pold_metadata"))
    assert(chunkRows(root) == v1.toSet)
    assert(!exists(s"$root/chunks_pold_metadata"))
  }

  test("chunk partition: new and _pold_ both present, so the new partition wins") {
    val root = newRoot()
    writeTable(chunks(v2: _*), s"$root/chunks", partitioned = true)
    writeTable(Seq(("old", 9)).toDF("chunkId", "v"), s"$root/chunks_pold_metadata", partitioned = false)
    assert(chunkRows(root) == v2.toSet)
    assert(!exists(s"$root/chunks_pold_metadata"))
  }

  test("chunks: new and _old both present, so the new table wins and old is dropped") {
    val root = newRoot()
    writeTable(chunks(v1: _*), s"$root/chunks_old", partitioned = true)
    writeTable(chunks(v2: _*), s"$root/chunks", partitioned = true)
    assert(chunkRows(root) == v2.toSet)
    val v3 = Seq(("d", "metadata", 3))
    IndexStore.writeChunks(chunks(v3: _*), root)
    assert(chunkRows(root) == v3.toSet)
    assert(!exists(s"$root/chunks_old") && !exists(s"$root/chunks_tmp"))
  }

  test("chunks: a half-written _tmp is ignored and cleared by the next write") {
    val root = newRoot()
    writeTable(chunks(v1: _*), s"$root/chunks", partitioned = true)
    writeTable(chunks(("junk", "metadata", 0)), s"$root/chunks_tmp", partitioned = true)
    assert(chunkRows(root) == v1.toSet)
    IndexStore.writeChunks(chunks(v2: _*), root)
    assert(chunkRows(root) == v2.toSet)
    assert(!exists(s"$root/chunks_tmp") && !exists(s"$root/chunks_old"))
  }

  test("partition upsert over a crashed partition swap keeps the other partitions") {
    val root = newRoot()
    writeTable(chunks(v1: _*), s"$root/chunks", partitioned = true)
    Files.move(Paths.get(s"$root/chunks/chunkType=metadata"), Paths.get(s"$root/chunks_pold_metadata"))
    IndexStore.replaceTypePartition(Seq(("m", 5)).toDF("chunkId", "v"), root, "metadata")
    assert(chunkRows(root) == Set(("m", "metadata", 5), ("b", "implementation", 1)))
    assert(!exists(s"$root/chunks_pold_metadata") && !exists(s"$root/chunks_ptmp_metadata"))
  }

  test("file_state moved to _old with the target missing: the old state is restored") {
    val root = newRoot()
    writeTable(state(("x.py", 1)), s"$root/file_state_old", partitioned = false)
    assert(stateRows(root).contains(Set(("x.py", 1))))
    assert(!exists(s"$root/file_state_old"))
  }

  test("file_state: new and _old both present, so the new state wins and old is dropped") {
    val root = newRoot()
    writeTable(state(("x.py", 1)), s"$root/file_state_old", partitioned = false)
    writeTable(state(("y.py", 2)), s"$root/file_state", partitioned = false)
    assert(stateRows(root).contains(Set(("y.py", 2))))
    IndexStore.writeState(state(("z.py", 3)), root)
    assert(stateRows(root).contains(Set(("z.py", 3))))
    assert(!exists(s"$root/file_state_old") && !exists(s"$root/file_state_tmp"))
  }

  test("file_state: a half-written _tmp is ignored; clearState removes every leftover") {
    val root = newRoot()
    writeTable(state(("x.py", 1)), s"$root/file_state", partitioned = false)
    writeTable(state(("junk", 0)), s"$root/file_state_tmp", partitioned = false)
    assert(stateRows(root).contains(Set(("x.py", 1))))
    writeTable(state(("x.py", 0)), s"$root/file_state_old", partitioned = false)
    IndexStore.clearState(root)
    assert(stateRows(root).isEmpty)
    assert(Seq("file_state", "file_state_old", "file_state_tmp").forall(n => !exists(s"$root/$n")))
  }

  test("no store at all reads as absent, and leaves nothing behind") {
    val root = newRoot()
    assert(!IndexStore.exists(root))
    assert(stateRows(root).isEmpty)
    val left: Seq[Path] = {
      val l = Files.list(Paths.get(root))
      try l.toArray.toSeq.map(_.asInstanceOf[Path]) finally l.close()
    }
    assert(left.isEmpty)
  }
}
