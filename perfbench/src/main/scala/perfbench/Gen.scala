package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime

/** Seeded input generators. Every generator draws from its own
  * `SplittableRandom` derived from (seed, purpose), so the same seed gives
  * the same bytes in any JVM, and one workload's draws never shift
  * another's.
  */
object Gen {

  private def rng(seed: Long, salt: Long) =
    new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt)

  /** Pronounceable pseudo-words built from a fixed syllable table, so the
    * vocabulary is the same for every seed and every token survives the
    * BM25 tokenizer (lower-case `[a-z0-9]` runs of length > 1).
    */
  private val Syl = Array("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa",
    "do", "fi", "gu", "ha", "je", "co", "bi", "wu", "xa", "yo")
  def word(i: Int): String = {
    val a = Syl(i % 20); val b = Syl((i / 20) % 20); val c = Syl((i / 400) % 20)
    if (i < 400) a + b else a + b + c
  }
  val CodeVocab: Array[String] = Array.tabulate(600)(word)

  // ---------------------------------------------------------------------
  // Project tree: Python modules with cross-module calls, classes and
  // byte-identical copies, plus Markdown docs.
  // ---------------------------------------------------------------------

  /** `modules` original modules, `copies` byte-identical copies of
    * originals, `docs` Markdown files.
    */
  case class TreeSpec(modules: Int, copies: Int, docs: Int)

  /** Fixed mtime for generated files: a no-op re-index then never sees an
    * mtime drift; edits move mtime forward by whole seconds and watch
    * events carry later timestamps still.
    */
  val BaseMtimeMs = 1700000000000L

  case class Tree(root: Path, spec: TreeSpec, seed: Long) {
    def modPath(m: Int): String = f"pkg_${m % 8}%02d/mod_$m%04d.py"
    def copyPath(c: Int): String = f"vendor/copy_$c%04d.py"
    def docPath(d: Int): String = f"docs/guide_$d%04d.md"
    def copySource(c: Int): Int = (c * 7919) % spec.modules
    def fnName(m: Int, i: Int): String =
      s"${CodeVocab((m * 31 + i * 7 + seed.toInt.abs) % 200)}_${CodeVocab(200 + (m * 13 + i) % 200)}_${m}_$i"
    def className(m: Int): String = {
      val w = CodeVocab((m * 17 + 3) % 400)
      s"${w.head.toUpper}${w.tail}Handler$m"
    }
  }

  val FnsPerModule = 4

  private def sentence(r: java.util.SplittableRandom, n: Int): String =
    (0 until n).map(_ => CodeVocab(r.nextInt(CodeVocab.length))).mkString(" ")

  /** Source text of module `m` at "version" `ver`: `ver` selects the
    * constant in one function body (`editFn`), so an edit changes that
    * body alone and every other entity keeps its content hash. `token`
    * plants a search term in `editFn`'s docstring.
    */
  def moduleText(t: Tree, m: Int, editFn: Int = -1, ver: Int = 0, token: String = ""): String = {
    val r = rng(t.seed, 1000003L * m)
    val n = t.spec.modules
    val deps = Seq((m + 1 + r.nextInt(n - 1)) % n, (m + 1 + r.nextInt(n - 1)) % n).distinct
    val sb = new StringBuilder
    sb ++= s"""\"\"\"Module mod_$m: ${sentence(r, 8)}.\"\"\"\n"""
    sb ++= "import os\n"
    deps.foreach { d =>
      sb ++= s"from pkg_${f"${d % 8}%02d"}.mod_${f"$d%04d"} import ${t.fnName(d, 0)}\n"
    }
    sb ++= s"\n\nLIMIT_$m = ${10 + r.nextInt(90)}\n\n\n"
    sb ++= s"class ${t.className(m)}(object):\n"
    sb ++= s"""    \"\"\"${sentence(r, 6).capitalize} handler.\"\"\"\n\n"""
    sb ++= "    def __init__(self, size):\n        self.size = size\n\n"
    sb ++= s"    def ${CodeVocab(r.nextInt(200))}_${CodeVocab(r.nextInt(200))}(self, value):\n"
    sb ++= s"""        \"\"\"${sentence(r, 5).capitalize}.\"\"\"\n"""
    sb ++= s"        total = value + self.size + ${r.nextInt(100)}\n"
    sb ++= s"        return ${t.fnName(m, 1)}(total)\n\n"
    for (i <- 0 until FnsPerModule) {
      val callee =
        if (i + 1 < FnsPerModule) t.fnName(m, i + 1)
        else t.fnName(deps(r.nextInt(deps.size)), 0)
      val doc0 = sentence(r, 7).capitalize
      val doc = if (i == editFn && token.nonEmpty) s"$doc0 $token" else doc0
      val k = if (i == editFn) 1000 + ver else 10 + r.nextInt(90)
      val c2 = 10 + r.nextInt(90)
      sb ++= s"\n\ndef ${t.fnName(m, i)}(x):\n"
      sb ++= s"""    \"\"\"$doc.\"\"\"\n"""
      sb ++= s"    y = x * $k\n"
      sb ++= (if (i + 1 < FnsPerModule || deps.nonEmpty) s"    return $callee(y) + $c2\n" else s"    return y + $c2\n")
    }
    sb.toString
  }

  def docText(t: Tree, d: Int): String = {
    val r = rng(t.seed, 7000003L * d + 1)
    val m = r.nextInt(t.spec.modules)
    s"""# ${sentence(r, 3).capitalize} guide $d
       |
       |${sentence(r, 30).capitalize}.
       |
       |## Usage of ${t.fnName(m, 0)}
       |
       |${sentence(r, 25).capitalize}. Call `${t.fnName(m, 0)}` from `${t.modPath(m)}`.
       |
       |## Notes
       |
       |${sentence(r, 20).capitalize}.
       |""".stripMargin
  }

  private def writeFile(root: Path, rel: String, text: String, mtimeMs: Long): Unit = {
    val p = root.resolve(rel)
    Files.createDirectories(p.getParent)
    Files.write(p, text.getBytes(UTF_8))
    Files.setLastModifiedTime(p, FileTime.fromMillis(mtimeMs))
  }

  /** Write the full tree under `root` (which must not exist yet). */
  def writeTree(root: Path, spec: TreeSpec, seed: Long): Tree = {
    val t = Tree(root, spec, seed)
    for (m <- 0 until spec.modules) writeFile(root, t.modPath(m), moduleText(t, m), BaseMtimeMs)
    for (c <- 0 until spec.copies)
      writeFile(root, t.copyPath(c), moduleText(t, t.copySource(c)), BaseMtimeMs)
    for (d <- 0 until spec.docs) writeFile(root, t.docPath(d), docText(t, d), BaseMtimeMs)
    t
  }

  /** Edit script number `editNo` (1-based, unique within a run): `files`
    * distinct original modules, each with one function body changed.
    * Modules with byte-identical copies and `gone` (deleted) paths are
    * skipped, so an edit changes exactly the named files' bytes.
    */
  def editTargets(t: Tree, editNo: Int, files: Int, gone: collection.Set[String]): Seq[(Int, Int)] = {
    val r = rng(t.seed, 9000011L * editNo + 5)
    val copied = (0 until t.spec.copies).map(t.copySource).toSet
    val picked = scala.collection.mutable.LinkedHashSet[Int]()
    while (picked.size < files) {
      val m = r.nextInt(t.spec.modules)
      if (!copied.contains(m) && !gone.contains(t.modPath(m))) picked += m
    }
    picked.toSeq.map(m => (m, r.nextInt(FnsPerModule)))
  }

  /** Apply an edit script to disk; returns the edited relative paths. */
  def applyEdit(t: Tree, editNo: Int, files: Int, gone: collection.Set[String]): Seq[String] =
    editTargets(t, editNo, files, gone).map { case (m, fn) =>
      writeFile(t.root, t.modPath(m), moduleText(t, m, fn, editNo), BaseMtimeMs + 1000L * editNo)
      t.modPath(m)
    }

  // ---------------------------------------------------------------------
  // Watch event batches
  // ---------------------------------------------------------------------

  case class Event(relPath: String, eventType: String, ts: Long, content: String)

  /** One micro-batch: the events, the planted token and the (path,
    * function) whose final content carries it.
    */
  case class Batch(events: Seq[Event], token: String, tokenPath: String, tokenFn: String)

  /** Batch `step` (0-based) against the tree's current state. Mostly
    * modifications (two paths modified twice, so coalescing has work),
    * one created file that is then modified, one deletion. `gone` holds
    * paths deleted by earlier batches; they are never touched again.
    * Files are written to / removed from disk as a side effect, with the
    * last event per path carrying the file's final content.
    */
  def watchBatch(t: Tree, step: Int, gone: scala.collection.mutable.Set[String]): Batch = {
    val r = rng(t.seed, 5000017L * step + 11)
    val copied = (0 until t.spec.copies).map(t.copySource).toSet
    val picked = scala.collection.mutable.LinkedHashSet[Int]()
    while (picked.size < 6) {
      val m = r.nextInt(t.spec.modules)
      if (!copied.contains(m) && !gone.contains(t.modPath(m))) picked += m
    }
    val Seq(m0, m1, m2, m3, m4, del) = picked.toSeq
    val ts0 = Gen.BaseMtimeMs + 10000000L + 100000L * step
    val token = s"zq${t.seed.abs % 1000}s${step}k${r.nextInt(1000)}"
    val verBase = 100000 + 10 * step
    val ev = scala.collection.mutable.ArrayBuffer[Event]()
    def modify(m: Int, fn: Int, ver: Int, tsOff: Long, tok: String = ""): Unit =
      ev += Event(t.modPath(m), "modified", ts0 + tsOff, moduleText(t, m, fn, ver, tok))
    val tokFn = r.nextInt(FnsPerModule)
    modify(m0, 0, verBase + 1, 1)
    modify(m1, 1, verBase + 2, 2)
    modify(m2, 2, verBase + 3, 3)
    modify(m3, 3, verBase + 4, 4)
    modify(m0, 1, verBase + 5, 5)        // repeated path: the later event wins
    modify(m4, tokFn, verBase + 6, 6, token)
    modify(m1, 2, verBase + 7, 7)        // repeated path again
    val created = f"watch/new_s$step%03d.py"
    val newMod = t.spec.modules + step // a module index outside the original tree
    ev += Event(created, "created", ts0 + 8, moduleText(t, newMod))
    ev += Event(created, "modified", ts0 + 9, moduleText(t, newMod, 0, verBase + 8))
    ev += Event(t.modPath(del), "deleted", ts0 + 10, "")
    // disk: the last event per path wins
    ev.groupBy(_.relPath).foreach { case (p, es) =>
      val last = es.maxBy(_.ts)
      if (last.eventType == "deleted") Files.deleteIfExists(t.root.resolve(p))
      else writeFile(t.root, p, last.content, last.ts)
    }
    gone += t.modPath(del)
    Batch(ev.toSeq, token, t.modPath(m4), t.fnName(m4, tokFn))
  }

  // ---------------------------------------------------------------------
  // Text corpus with planted near-duplicates and exact copies
  // ---------------------------------------------------------------------

  case class Doc(id: Long, source: String, text: String)

  /** `nearDupOf(i) = j` marks doc i as a planted near-duplicate of doc j
    * (same source, ~5% of tokens replaced); `distinctTexts` is the number
    * of distinct texts, which exact dedup must keep.
    */
  case class Corpus(docs: IndexedSeq[Doc], nearDups: Seq[(Long, Long)], distinctTexts: Int)

  val Sources = 20
  private val CorpusVocab = 5000

  /** Zipf(1.1) rank sampler over the corpus vocabulary (inverse CDF). */
  private lazy val zipfCdf: Array[Double] = {
    val w = Array.tabulate(CorpusVocab)(i => 1.0 / math.pow(i + 1, 1.1))
    val s = w.sum
    w.scanLeft(0.0)(_ + _ / s).tail
  }
  private def zipf(r: java.util.SplittableRandom): String = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(zipfCdf, u)
    word(math.min(CorpusVocab - 1, if (i >= 0) i else -i - 1))
  }

  def corpus(n: Int, seed: Long): Corpus = {
    val r = rng(seed, 424242L)
    val docs = new Array[Doc](n)
    val near = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    var exactCopies = 0
    for (i <- 0 until n) {
      val src = f"src_${i % Sources}%02d"
      val u = r.nextDouble()
      // a near-dup or exact copy needs an earlier doc of the same source
      val base = i - Sources * (1 + r.nextInt(math.max(1, math.min(i / Sources, 10))))
      val text =
        if (u < 0.20 && base >= 0) {
          val toks = docs(base).text.split(' ')
          val muts = math.max(1, math.round(toks.length * 0.05).toInt)
          for (_ <- 0 until muts) {
            val p = r.nextInt(toks.length)
            var w = zipf(r)
            while (w == toks(p)) w = zipf(r)
            toks(p) = w
          }
          near += ((i.toLong, base.toLong))
          toks.mkString(" ")
        } else if (u < 0.25 && base >= 0) {
          exactCopies += 1
          docs(base).text
        } else {
          val len = 60 + r.nextInt(60)
          (0 until len).map(_ => zipf(r)).mkString(" ") + s" doc$i"
        }
      docs(i) = Doc(i.toLong, src, text)
    }
    Corpus(docs.toIndexedSeq, near.toSeq, docs.map(_.text).distinct.length)
  }
}
