package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.corpus.Corpus
import graft.format.ReferenceOutput
import graft.operators.{Jaccard, Retrieval}
import graft.pipeline.JaccardPipeline

/** One benchmark workload. [[setup]] writes the seeded inputs and builds
  * whatever the ops read; [[op]] runs one timed op and returns a thunk that
  * digests its output, called right after the timed region; [[expected]]
  * is the digest a correct op produces; [[traced]] runs one instrumented op
  * and returns its per-layer figures.
  */
trait Workload {
  def items: Long
  def setup(spark: SparkSession): Unit
  def op(spark: SparkSession): () => String
  def expected(spark: SparkSession): String
  def traced(spark: SparkSession, tracer: Tracer): (Map[String, Double], () => String)
  /** Per-layer figures measured once per traced run, after its ops;
    * `ops` holds the medians of the traced ops' figures.
    */
  def layerSelfTimes(spark: SparkSession, tracer: Tracer,
                     ops: Map[String, Double]): Map[String, Double]
}

object Workload {

  def apply(name: String, seed: Long, dir: String): Workload = name match {
    // sizes keep a run's warm phase at several ops within the run budget;
    // allpairs_pruned is run by hand only (see README.md)
    case "allpairs_dense" =>
      new AllPairs(dir, Gen.topicCorpus(seed, nDocs = 150, docLen = 400), None)
    case "allpairs_pruned" =>
      new AllPairs(dir, Gen.hotTailCorpus(seed, nDocs = 2000, docLen = 100),
        Some(200L))
    case "retrieval_update_query" => new RetrievalUpdateQuery(dir, zipf(seed))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def zipf(seed: Long) = Gen.zipfInputs(seed, nDocs = 1000, docLen = 30,
    vocab = 2000, nQueries = 30, nAppend = 20, nDelete = 20)

  def now(): Double = System.nanoTime() / 1e9

  def timed[A](body: => A): (A, Double) = {
    val t0 = now()
    val a = body
    (a, now() - t0)
  }

  def writeLines(path: String, lines: Seq[String]): Unit =
    Files.write(Paths.get(path), lines.asJava, StandardCharsets.UTF_8)

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def md5(s: String): String = Model.md5(s.getBytes(StandardCharsets.UTF_8))

  /** Bytes of a Spark text output directory's part files, in name order. */
  def partBytes(dir: String): Array[Byte] =
    new File(dir).listFiles().filter(_.getName.startsWith("part-"))
      .sortBy(_.getName).flatMap(f => Files.readAllBytes(f.toPath))

  /** A canonical text of ranked rows `(queryId, docId, score, rank)`: the
    * score as its exact bits, so equal digests mean bitwise-equal scores.
    */
  def rankedDigest(rows: Seq[Row]): String = md5(rows.map { r =>
    s"${r.getString(0)}\t${r.getString(1)}\t" +
      s"${java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(r.getDouble(2)))}\t" +
      s"${r.getAs[Number](3).longValue}"
  }.sorted.mkString("\n"))

  def ranked(df: DataFrame): DataFrame =
    df.select(col("queryId"), col("docId"), col("score"), col("rank"))

  /** The figures every traced op reports: its phases and Spark totals. */
  def opFigures(tracer: Tracer, build: Double, plan: Double, exec: Double,
                cores: Int): Map[String, Double] = {
    tracer.drain()
    val t = tracer.total
    val wall = build + plan + exec
    Map(
      "phase.build_s" -> build, "phase.plan_s" -> plan, "phase.exec_s" -> exec,
      "spark.jobs" -> t.jobs.toDouble, "spark.stages" -> t.stages.toDouble,
      "spark.tasks" -> t.tasks.toDouble,
      "spark.executor_cpu_s" -> t.cpuNs / 1e9, "spark.gc_s" -> t.gcMs / 1e3,
      "spark.core_idle_frac" -> (1.0 - t.runMs / 1e3 / (wall * cores)),
      "spark.shuffle_write_bytes" -> t.shuffleWriteBytes.toDouble,
      "spark.shuffle_read_bytes" -> t.shuffleReadBytes.toDouble,
      "spark.shuffle_records" -> t.shuffleRecords.toDouble,
      "spark.spill_bytes" -> t.spillBytes.toDouble,
    ) ++ Tracer.fingerprint(tracer.executedNodes)
  }

  def cores(spark: SparkSession): Int = spark.sparkContext.defaultParallelism
}

import Workload._

/** `JaccardPipeline.run` then `ReferenceOutput.write`: the paper's job. */
final class AllPairs(dir: String, lines: Seq[String], maxDf: Option[Long])
    extends Workload {
  private val input = s"$dir/corpus.txt"
  private val out = s"$dir/out"

  def items: Long = lines.size.toLong

  def setup(spark: SparkSession): Unit = writeLines(input, lines)

  def op(spark: SparkSession): () => String = {
    ReferenceOutput.write(JaccardPipeline.run(spark, input, maxDf), out)
    () => Model.md5(partBytes(out))
  }

  def expected(spark: SparkSession): String =
    Model.md5(Model.referenceOutput(lines, maxDf))

  def traced(spark: SparkSession, tracer: Tracer)
      : (Map[String, Double], () => String) = {
    val (sims, build) = timed(tracer.layer("pipeline") {
      JaccardPipeline.run(spark, input, maxDf)
    })
    val (_, plan) = timed(tracer.layer("pipeline") { sims.queryExecution.executedPlan })
    val (_, exec) = timed(tracer.layer("format") { ReferenceOutput.write(sims, out) })
    val figures = opFigures(tracer, build, plan, exec, cores(spark))
    val nodes = tracer.executedNodes
    val pairRows = Tracer.wordJoinRows(nodes)
    val bytes = partBytes(out)
    val outPairs = bytes.count(_ == '\n')
    (figures ++ Map(
      "jaccard.scan_passes" -> tracer.total.scanRecords.toDouble / lines.size,
      "jaccard.pair_rows" -> pairRows.toDouble,
      "jaccard.pair_yield" -> (if (pairRows == 0) 0.0 else outPairs.toDouble / pairRows)),
      () => Model.md5(bytes))
  }

  /** Self time per layer: each cumulative prefix of the pipeline runs to a
    * noop sink (the last to the real sink), and a layer's self time is its
    * prefix's wall minus the previous prefix's. The prune runs eagerly while
    * the pair frame is built, so its self time is that build's wall.
    */
  def layerSelfTimes(spark: SparkSession, tracer: Tracer,
                     ops: Map[String, Double]): Map[String, Double] = {
    val postings =
      Jaccard.postings(Jaccard.tokenized(Corpus.read(spark, input))).count().toDouble
    val reps = (1 to 3).map { _ =>
      val parse = timed(tracer.layer("corpus") { noop(Corpus.read(spark, input)) })._2
      val tok = timed(tracer.layer("functions") {
        noop(Jaccard.postings(Jaccard.tokenized(Corpus.read(spark, input))))
      })._2
      val (pairs, prune) = timed(tracer.layer("operators.Jaccard.prune") {
        Jaccard.pairIntersections(
          Jaccard.postings(Jaccard.tokenized(Corpus.read(spark, input))), maxDf)
      })
      val pairT = timed(tracer.layer("operators.Jaccard.pairs") { noop(pairs) })._2
      val sims = Jaccard.similarities(pairs,
        Jaccard.docSizes(Jaccard.tokenized(Corpus.read(spark, input))))
      val simT = timed(tracer.layer("operators.Jaccard.similarities") { noop(sims) })._2
      val fmtT = timed(tracer.layer("format") {
        ReferenceOutput.write(sims, s"$dir/prefix-out")
      })._2
      Seq(parse, tok - parse, prune, pairT - tok, simT - pairT, fmtT - simT)
    }
    val names = Seq("parse_s", "tokenize_s", "prune_s", "pairs_s", "similarity_s",
      "format_s").map("jaccard." + _)
    names.zipWithIndex.map { case (n, i) => n -> Stats.median(reps.map(_(i))) }.toMap +
      ("jaccard.postings" -> postings)
  }
}

/** The retrieval stack's serving loop over a Zipf corpus. Set-up builds
  * and materializes the index. Each op ingests a micro-batch into it and
  * answers a query batch over the updated index:
  *
  *   - the append batch's `termFrequencies`, merged by `compactTermIndex`
  *     and `compactImpactStats`; the delete batch removed by
  *     `compactTermIndexDeleted` and `compactImpactStatsDeleted`; the four
  *     new tables materialized;
  *   - `bm25TopKWand` with impact bounds, top 10.
  *
  * RM3 expansion and the weighted WAND rescore run only in the traced run,
  * from the last traced op's first pass: with them in the op, a run holds
  * a single warm op, which neither the run budget nor the spread allows.
  */
final class RetrievalUpdateQuery(dir: String, in: Gen.ZipfInputs) extends Workload {
  import RetrievalUpdateQuery.Index

  private val corpusPath = s"$dir/corpus.txt"
  private val queriesPath = s"$dir/queries.txt"
  private val appendPath = s"$dir/append.txt"
  private val deletePath = s"$dir/deletes.txt"
  /** The WAND hot cut: a word in more than a tenth of the docs is hot. */
  private val hotDf: Long = in.corpus.size / 10L

  private var index: Index = _
  /** Walls of the index builds of this run's set-ups. */
  private val indexBuilds = scala.collection.mutable.ArrayBuffer.empty[Double]

  def items: Long = in.queries.size.toLong

  def setup(spark: SparkSession): Unit = {
    writeLines(corpusPath, in.corpus)
    writeLines(queriesPath, in.queries)
    writeLines(appendPath, in.append)
    writeLines(deletePath, in.deletes)
    indexBuilds += timed { index = build(Corpus.read(spark, corpusPath)) }._2
  }

  private def build(docs: DataFrame): Index = {
    val tf = Retrieval.termFrequencies(docs, "docId", "text").localCheckpoint()
    Index(tf, Retrieval.dfTable(tf).localCheckpoint(),
      Retrieval.corpusStats(tf).localCheckpoint(), Retrieval.impactStats(tf).localCheckpoint())
  }

  private def batchTf(spark: SparkSession) =
    Retrieval.termFrequencies(Corpus.read(spark, appendPath), "docId", "text")
      .localCheckpoint()

  private def appended(batch: DataFrame): Index = {
    val (t, d, s) = Retrieval.compactTermIndex(index.tf, index.df, index.stats, batch)
    Index(t, d, s, Retrieval.compactImpactStats(index.impact, Retrieval.impactStats(batch)))
  }

  private def deleted(spark: SparkSession, a: Index): Index = {
    val del = spark.read.text(deletePath).select(col("value").as("docId"))
    val (t, d, s) = Retrieval.compactTermIndexDeleted(a.tf, a.df, a.stats, del)
    Index(t.localCheckpoint(), d.localCheckpoint(), s.localCheckpoint(),
      Retrieval.compactImpactStatsDeleted(a.impact, a.tf, del).localCheckpoint())
  }

  private def query(spark: SparkSession, ix: Index) =
    ranked(Retrieval.bm25TopKWand(ix.tf, Corpus.read(spark, queriesPath), "docId", "text",
      10, hotDf, dfStats = Some((ix.df, ix.stats)), impact = Some(ix.impact)))

  def op(spark: SparkSession): () => String = {
    val rows = query(spark, deleted(spark, appended(batchTf(spark)))).collect().toSeq
    () => rankedDigest(rows)
  }

  /** The unpruned ranking (`bm25TopK` over `bm25ScoresPrecomputed`) over an
    * index rebuilt from scratch from the post-update corpus.
    */
  def expected(spark: SparkSession): String = {
    val gone = in.deletes.toSet
    val path = s"$dir/rebuilt.txt"
    writeLines(path, (in.corpus ++ in.append).filterNot(l => gone(l.takeWhile(_ != ' '))))
    val ix = build(Corpus.read(spark, path))
    rankedDigest(ranked(Retrieval.bm25TopK(Retrieval.bm25ScoresPrecomputed(
      ix.tf, ix.df, ix.stats, Corpus.read(spark, queriesPath), "docId", "text"), 10))
      .collect().toSeq)
  }

  private var lastIndex: Index = _

  def traced(spark: SparkSession, tracer: Tracer)
      : (Map[String, Double], () => String) = {
    val t0 = now()
    val batch = tracer.layer("maint.batch_tf") { batchTf(spark) }
    val t1 = now()
    val ix = tracer.layer("maint.update") { deleted(spark, appended(batch)) }
    val t2 = now()
    val res = tracer.layer("operators.Retrieval.first_pass") { query(spark, ix) }
    val t3 = now()
    tracer.layer("operators.Retrieval.first_pass") { res.queryExecution.executedPlan }
    val t4 = now()
    val rows = tracer.layer("operators.Retrieval.first_pass") { res.collect().toSeq }
    val t5 = now()
    val figures = opFigures(tracer, t3 - t0, t4 - t3, t5 - t4, cores(spark))
    val written = Seq(ix.tf, ix.df, ix.stats, ix.impact).map(_.count()).sum.toDouble
    lastIndex = ix
    (figures ++ Map(
      "maint.batch_tf_s" -> (t1 - t0),
      "maint.update_s" -> (t2 - t1),
      "maint.rows_written_per_batch_row" -> written / batch.count(),
      "retrieval.first_pass_s" -> (t5 - t2)),
      () => rankedDigest(rows))
  }

  /** Beyond the op: the append stage's self time, from its tables run to
    * noop sinks (the delete stage's is the update wall minus it); RM3
    * expansion from the last traced op's first pass and the weighted WAND
    * rescore of the expanded queries (top 5), each materialized; and the
    * WAND decision tables of both passes: candidates per query and the
    * share of queries answered without the fallback.
    */
  def layerSelfTimes(spark: SparkSession, tracer: Tracer,
                     ops: Map[String, Double]): Map[String, Double] = {
    val append = Stats.median((1 to 3).map { _ =>
      val a = appended(batchTf(spark))
      timed(tracer.layer("maint.append") {
        Seq(a.tf, a.df, a.stats, a.impact).foreach(noop)
      })._2
    })
    val ix = lastIndex
    val qs = Corpus.read(spark, queriesPath)
    val topk = query(spark, ix).select("queryId", "docId", "score").localCheckpoint()
    val (exp, rm3) = timed(tracer.layer("operators.Retrieval.rm3") {
      Retrieval.rm3ExpandedTermsFromTopk(topk, ix.tf, ix.df, qs, "docId", "text",
        m = 10, lambda = 0.5).localCheckpoint()
    })
    val rescore = timed(tracer.layer("operators.Retrieval.rescore") {
      Retrieval.bm25TopKWandWeighted(ix.tf, exp, 5, hotDf,
        dfStats = Some((ix.df, ix.stats)), impact = Some(ix.impact)).collect()
    })._2
    val rows = tracer.layer("operators.Retrieval.stats") {
      Retrieval.bm25WandStats(ix.tf, qs, "docId", "text", 10, hotDf,
        dfStats = Some((ix.df, ix.stats)), impact = Some(ix.impact))
        .select("n_candidates", "safe").collect() ++
      Retrieval.bm25WandWeightedStats(ix.tf, exp, 5, hotDf,
        dfStats = Some((ix.df, ix.stats)), impact = Some(ix.impact))
        .select("n_candidates", "safe").collect()
    }
    Map(
      "maint.append_s" -> append,
      "maint.delete_s" -> (ops("maint.update_s") - append),
      "retrieval.index_build_s" -> Stats.median(indexBuilds.toSeq),
      "retrieval.rm3_expand_s" -> rm3,
      "retrieval.rescore_s" -> rescore,
      "retrieval.candidates_per_query" ->
        rows.map(r => r.getAs[Number](0).doubleValue).sum / rows.length,
      "retrieval.safe_frac" -> rows.count(_.getBoolean(1)).toDouble / rows.length)
  }
}

object RetrievalUpdateQuery {
  /** The four tables of a BM25 index. */
  final case class Index(tf: DataFrame, df: DataFrame, stats: DataFrame, impact: DataFrame)
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
