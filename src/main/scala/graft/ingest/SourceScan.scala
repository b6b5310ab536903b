package graft.ingest

import java.nio.file.{FileVisitResult, Files, Path, Paths, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes
import scala.util.matching.Regex
import org.apache.spark.sql.Dataset
import graft.core.GraftConfig
import graft.core.Model._

/** Project file scan (reference: indexer.py:820-878; patterns
  * config/models.py:40-96): glob includes, exclude patterns (dir-suffix
  * `/`, glob, name, any-path-part), size cap.
  *
  * The walk lists paths driver-side (listing is cheap — metadata only),
  * then file CONTENT is read executor-side inside `mapPartitions`, so at
  * scale the I/O fans out across the cluster instead of bottlenecking on
  * the driver. On a real deployment the same shape maps to
  * `spark.read.format("binaryFile")` over an object store.
  */
object SourceScan {

  /** Glob → anchored regex with every literal span regex-quoted, so
    * patterns containing regex metacharacters (`+ ( [ ? |` …) match
    * literally instead of throwing or silently matching the wrong files
    * (e.g. `*.c++`).
    */
  private[ingest] def globRegex(pat: String): Regex =
    ("(?s)^" + pat.split("\\*", -1).map(java.util.regex.Pattern.quote)
      .mkString(".*") + "$").r

  /** The scan surface — which project files are in scope — compiled ONCE
    * from a config (a 100k-file walk with 5 globs would otherwise pay ~1M
    * Pattern.compile calls). The batch walk, the watch snapshot (which
    * lists through [[listFiles]]) and the watch event filter all ask this
    * one predicate, so index and watch see the same files (reference
    * watcher/handler.py:102-147 filters events through the indexer's own
    * excludes). Serializable: the event filter runs executor-side.
    */
  final class Surface(config: GraftConfig) extends Serializable {
    private val (dirPats, filePats) = config.excludes.partition(_.endsWith("/"))
    private val excludedDirs = dirPats.map(_.stripSuffix("/")).toSet
    private val exGlobs = filePats.filter(_.contains("*")).map(globRegex)
    private val exNames = filePats.filterNot(_.contains("*")).toSet
    // `*` admits any parseable file (config/models.py:40-60)
    private val incGlobs = if (config.includes.contains("*")) Nil else config.includes.map(globRegex)

    /** An excluded directory name: the walk never descends into it. */
    def prunes(dirName: String): Boolean = excludedDirs.contains(dirName)

    /** `relPath` is in scope at `size` bytes: outside excluded dirs, no
      * exclude glob or name on it, an include glob on its path or basename,
      * a registered parser, and under the size cap.
      */
    def admits(relPath: String, size: Long): Boolean = {
      val parts = relPath.split('/')
      def matches(rx: Regex) = rx.matches(relPath) || rx.matches(parts.last)
      !parts.init.exists(excludedDirs.contains) && !parts.exists(exNames.contains) &&
        !exGlobs.exists(matches) && (incGlobs.isEmpty || incGlobs.exists(matches)) &&
        ParserRegistry.canParse(relPath) && size <= config.maxFileSize
    }
  }

  /** In-surface files under `root` as sorted (relPath, size, mtime) — the
    * one driver-side metadata walk. It closes its directory streams and
    * prunes excluded DIRECTORIES with SKIP_SUBTREE, so a node_modules or
    * .git tree is never descended into. An entry that vanishes mid-walk is
    * skipped; a missing root throws (an empty listing would read as every
    * file deleted).
    */
  def listFiles(root: String, config: GraftConfig): Seq[(String, Long, Long)] = {
    val surface = new Surface(config)
    val rootPath = Paths.get(root)
    val out = scala.collection.mutable.ArrayBuffer[(String, Long, Long)]()
    Files.walkFileTree(rootPath, new SimpleFileVisitor[Path] {
      override def preVisitDirectory(dir: Path, attrs: BasicFileAttributes): FileVisitResult =
        if (dir != rootPath && surface.prunes(dir.getFileName.toString)) FileVisitResult.SKIP_SUBTREE
        else FileVisitResult.CONTINUE
      override def visitFile(p: Path, attrs: BasicFileAttributes): FileVisitResult = {
        val rel = rootPath.relativize(p).toString.replace('\\', '/')
        if (attrs.isRegularFile && surface.admits(rel, attrs.size))
          out += ((rel, attrs.size, attrs.lastModifiedTime.toMillis))
        FileVisitResult.CONTINUE
      }
      override def visitFileFailed(p: Path, e: java.io.IOException): FileVisitResult =
        if (p == rootPath) throw e else FileVisitResult.CONTINUE
    })
    out.toSeq.sortBy(_._1)
  }

  /** Parse a scanned Dataset into per-file ParserResults. */
  def parseAll(files: Dataset[FileRow]): Dataset[ParserResult] = {
    import files.sparkSession.implicits._
    files.map(f => ParserRegistry.parse(f.relPath, f.content))
  }
}
