package perfbench

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.index.IndexStore
import graft.search.Bm25

/** One workload: `setup` builds its inputs and store from scratch (timed
  * several times per run), `cycle` is one closed-loop step made of one or
  * more timed operations, `finish` runs the end-of-run output checks.
  */
trait Workload {
  def setup(rep: Int): Unit
  /** Cycles a run makes even when they outlast `--seconds`. */
  def minCycles: Int
  def cycle(i: Int): Unit
  def finish(): Unit
  /** The workload's own named end-to-end figures: (name, unit, samples). */
  def figures: Seq[(String, String, Seq[Double])]
  def sizes: Map[String, Any]
}

object Workload {
  /** Project tree of the `code` workload. */
  val Tree = Gen.TreeSpec(modules = 120, copies = 12, docs = 30)
  val CorpusDocs = 1000
  val TopK = 10

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def apply(name: String, run: Run): Workload = name match {
    case "code" => new Code(run)
    case "corpus" => new Corpus(run)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** (chunkId, contentHash, vector, relationTarget, relationType) of a store. */
  def storeKeys(spark: SparkSession, store: Path): Set[Checks.StoreKey] =
    IndexStore.readChunks(spark, store.toString)
      .select(col("chunkId"), col("contentHash"), col("dense"), col("relationTarget"), col("relationType"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getSeq[Double](2).toSeq,
        r.getString(3), r.getString(4))).toSet
}

/** One pass of the LLM-data operators over a seeded corpus with planted
  * near-duplicates, each operator materialized to the `noop` sink.
  */
object Corpus {
  /** PrefixJoin: word 3-gram Jaccard threshold; NgramJaccard: char 5-grams. */
  val PrefixN = 3; val PrefixT = 0.7
  val CharN = 5; val CharT = 0.7
}

final class Corpus(run: Run) extends Workload {
  import graft.dedup._
  import Corpus._
  private val spark = run.spark
  private val dir = run.dir("corpus")
  private var corpus: Gen.Corpus = _
  private def docs: DataFrame = spark.read.parquet(dir.toString)

  private val operators: Seq[(String, DataFrame => DataFrame)] = Seq(
    "dedup.minhash" -> (d => MinHashLsh.candidatePairs(d, "id", "text")),
    "dedup.prefix_join" -> (d => PrefixJoin.similarPairs(d, "id", "text", PrefixN, PrefixT)),
    "dedup.ngram_jaccard" -> (d => NgramJaccard.jaccardPairs(d, "id", "text", "source", CharN, CharT)),
    "dedup.dup_spans" -> (d => DupSpans.coverage(d, "id", "text", 5)),
    "dedup.source_overlap" -> (d => SourceOverlap.containment(d, "source", "text", 5, 5, 50)),
    "dedup.exact" -> (d => ExactDedup.dedupKeepFirst(d, "id", "text")),
    "search.bm25_fit" -> (d => Bm25.fit(d, "id", "text")))

  def setup(rep: Int): Unit = {
    import spark.implicits._
    corpus = Gen.corpus(Workload.CorpusDocs, run.seed)
    corpus.docs.toDS().write.mode("overwrite").parquet(dir.toString)
  }

  private def pass(): Unit = operators.foreach { case (name, f) =>
    run.op(name.takeWhile(_ != '.'), name)(Workload.noop(f(docs)))
  }

  /** The first pass runs cold; the median of three is a warm one. */
  val minCycles = 3
  def cycle(i: Int): Unit = pass()

  def finish(): Unit = {
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select(col("doc_a").cast("long"), col("doc_b").cast("long")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val d = docs
    val prefix = pairs(PrefixJoin.similarPairs(d, "id", "text", PrefixN, PrefixT))
    val ngram = pairs(NgramJaccard.jaccardPairs(d, "id", "text", "source", CharN, CharT))
    val cand = pairs(MinHashLsh.candidatePairs(d, "id", "text"))
    val survivors = ExactDedup.dedupKeepFirst(d, "id", "text").count()
    val text = corpus.docs.map(x => x.id -> x.text).toMap
    val planted = corpus.nearDups.map { case (a, b) => (a, b, text(a), text(b)) }
    run.check(Checks.plantedPairsFound("PrefixJoin",
      planted.map(p => (p._1, p._2, Checks.jaccard(Checks.wordGrams(p._3, PrefixN), Checks.wordGrams(p._4, PrefixN)))),
      PrefixT, prefix))
    run.check(Checks.plantedPairsFound("NgramJaccard",
      planted.map(p => (p._1, p._2, Checks.jaccard(Checks.charGrams(p._3, CharN), Checks.charGrams(p._4, CharN)))),
      CharT, ngram))
    run.check(Checks.exactSurvivors(survivors, corpus.distinctTexts.toLong))
    val tp = cand.count(prefix.contains)
    run.record("dedup.minhash_candidates", cand.size.toDouble)
    run.record("dedup.minhash_precision", if (cand.isEmpty) 0.0 else tp.toDouble / cand.size)
    run.record("dedup.minhash_recall", if (prefix.isEmpty) 0.0 else tp.toDouble / prefix.size)
    run.record("dedup.exact_survivors", survivors.toDouble)
  }

  def figures: Seq[(String, String, Seq[Double])] = {
    val passMs = run.samples.getOrElse("cycle", Nil).toSeq
    Seq(("corpus_docs_per_s", "docs/s", passMs.map(ms => Workload.CorpusDocs / (ms / 1000))))
  }

  def sizes: Map[String, Any] = Map("docs" -> Workload.CorpusDocs, "sources" -> Gen.Sources,
    "near_dup_share" -> 0.20, "exact_copy_share" -> 0.05)
}
