package graft.index

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions.col
import org.scalacheck.Gen
import graft.SparkSpec
import graft.api.GraftEngine
import graft.streaming.WatchPipeline
import graft.streaming.WatchPipeline.FileEvent

/** Incremental maintenance (batch `index` and watch `processBatch`) must
  * leave the store as a full rebuild of the final tree would.
  */
class IncrementalSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** Every file under `root` (relative path → bytes). */
  private def bytesUnder(root: String): Map[String, Seq[Byte]] = {
    val walk = Files.walk(Paths.get(root))
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
      Paths.get(root).relativize(p).toString -> Files.readAllBytes(p).toSeq
    }.toMap
    finally walk.close()
  }

  test("index of a missing project directory throws and leaves the store untouched") {
    val project = tmp("graft_inc_proj")
    val store = tmp("graft_inc_store")
    Files.writeString(Paths.get(project, "a.py"), "def f():\n    return 1\n")
    val engine = GraftEngine(spark, store)
    engine.index(project)
    val before = bytesUnder(store)
    assert(before.keys.exists(_.startsWith("chunks")) && before.keys.exists(_.startsWith("file_state")))
    intercept[java.nio.file.NoSuchFileException](engine.index(s"$project/missing"))
    assert(bytesUnder(store) == before)
  }

  // --- incremental = full ---------------------------------------------------

  private val Modules = 7

  /** Module `i`, version `v`: f{i} calls f{(i+1) % Modules} and f{(i+v) % Modules}. */
  private def module(i: Int, v: Int): String = {
    val a = (i + 1) % Modules
    val b = (i + 1 + v) % Modules
    s"""from m$a import f$a
       |from m$b import f$b
       |
       |def f$i(x):
       |    '''Module $i, version $v.'''
       |    return f$a(x) + f$b(x) + $v
       |""".stripMargin
  }

  /** One random step: `file` is created if absent; otherwise deleted when
    * `version` is 0, else rewritten at that version. `viaWatch` applies it
    * through `processBatch` instead of `index`.
    */
  private case class Step(file: Int, version: Int, viaWatch: Boolean)

  private val steps: Gen[List[Step]] = Gen.listOfN(4,
    for (f <- Gen.choose(0, Modules - 1); v <- Gen.choose(0, 3); w <- Gen.oneOf(true, false))
      yield Step(f, v, w))

  /** chunks minus relations as (chunkId, contentHash, dense), and file_state. */
  private def snapshot(store: String): (Set[(String, String, Seq[Double])], Set[(String, String, Long, Long)]) = {
    val chunks = IndexStore.readChunks(spark, store).filter(col("chunkType") =!= "relation")
      .select(col("chunkId"), col("contentHash"), col("dense")).as[(String, String, Seq[Double])]
      .collect().toSet
    val state = IndexStore.readState(spark, store).get
      .select(col("relPath"), col("hash"), col("size"), col("mtime")).as[(String, String, Long, Long)]
      .collect().toSet
    (chunks, state)
  }

  test("incremental index and watch batches match a full index of the final tree") {
    var clock = 1700000000000L
    def put(root: String, i: Int, v: Int): Path = {
      val p = Paths.get(root, s"m$i.py")
      Files.writeString(p, module(i, v))
      clock += 1000 // explicit, strictly increasing mtimes: no same-ms edit hides
      Files.setLastModifiedTime(p, FileTime.fromMillis(clock))
    }
    (1 to 3).foreach { sample =>
      val script = steps.pureApply(Gen.Parameters.default, org.scalacheck.rng.Seed(sample.toLong))
      val project = tmp("graft_inc_tree")
      val store = tmp("graft_inc_live")
      (0 until Modules - 1).foreach(i => put(project, i, 1))
      val engine = GraftEngine(spark, store)
      engine.index(project)

      script.foreach { case Step(i, v, viaWatch) =>
        val p = Paths.get(project, s"m$i.py")
        val event =
          if (!Files.exists(p)) { put(project, i, math.max(v, 1)); "created" }
          else if (v == 0) { Files.delete(p); "deleted" }
          else { put(project, i, v); "modified" }
        if (viaWatch) {
          val e =
            if (event == "deleted") FileEvent(s"m$i.py", event, clock, "")
            else FileEvent(s"m$i.py", event, Files.getLastModifiedTime(p).toMillis, Files.readString(p))
          WatchPipeline.processBatch(spark, Seq(e).toDS(), store)
        } else engine.index(project)
      }

      val full = tmp("graft_inc_full")
      GraftEngine(spark, full).index(project)
      val (liveChunks, liveState) = snapshot(store)
      val (fullChunks, fullState) = snapshot(full)
      assert(liveState == fullState, s"seed $sample: $script")
      assert(liveChunks == fullChunks, s"seed $sample: $script")
      val again = engine.index(project)
      assert(again.filesParsed == 0 && again.chunksEmbedded == 0, s"seed $sample: $script")
    }
  }

  test("restoring a deleted callee file restores its callers' calls edges") {
    val project = tmp("graft_inc_rel")
    val store = tmp("graft_inc_rel_live")
    val full = tmp("graft_inc_rel_full")
    val a = "from b import foo\n\ndef bar():\n    return foo()\n"
    val b = "def foo():\n    return 1\n"
    Files.writeString(Paths.get(project, "a.py"), a)
    Files.writeString(Paths.get(project, "b.py"), b)
    val engine = GraftEngine(spark, store)
    engine.index(project)
    Files.delete(Paths.get(project, "b.py"))
    engine.index(project)
    Files.writeString(Paths.get(project, "b.py"), b)
    engine.index(project)
    GraftEngine(spark, full).index(project)

    def relations(s: String): Set[String] =
      IndexStore.readChunks(spark, s).filter(col("chunkType") === "relation")
        .select(col("chunkId")).as[String].collect().toSet
    // the delete drops bar's `calls` edge and b.py's re-parse does not
    // re-parse a.py, so the edge stays lost
    pendingUntilFixed {
      assert(relations(store) == relations(full))
    }
  }
}
