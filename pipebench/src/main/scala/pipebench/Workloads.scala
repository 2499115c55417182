package pipebench

import java.nio.file.{Files, Path}
import java.time.LocalDateTime
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Ann, Curation, Retrieval, Sampling, TextAnalysis, TextDedup}
import graft.x12.X12Pipeline

/** What one operation runs against: inputs under `in`, outputs under
  * `out`, and the tracer when the run is traced.
  */
final case class Ctx(spark: SparkSession, in: Path, out: Path, tracer: Option[Tracer]) {
  def span[T](layer: String)(body: => T): T =
    tracer.fold(body)(_.span(layer)(body))
  def build[T](body: => T): T = tracer.fold(body)(_.build(body))
  def read(name: String): DataFrame = spark.read.parquet(out.resolve(name).toString)
  def save(df: DataFrame, name: String): Unit =
    df.write.mode("overwrite").parquet(out.resolve(name).toString)
}

/** Seeded inputs and a timed operation over them. */
trait Chain {
  def generate(spark: SparkSession, seed: Long, in: Path): Unit
  def op(c: Ctx, i: Int): Unit
  /** Parameters the output checks need, written to `params.json`. */
  def params: Map[String, Any]
  /** Figures the traced run adds after its last operation. */
  def traceExtras(c: Ctx): Map[String, Double] = Map.empty
  /** Sub-timings of the operations (seconds), reported beside the result. */
  def stages: Map[String, Double] = stageS.toMap
  private val stageS = collection.mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  protected def stage[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally stageS(name) += (System.nanoTime() - t0) / 1e9
  }
}

/** A workload: a chain whose operation a run repeats while the run's
  * seconds last, at most `maxOps` times.
  */
trait Workload extends Chain {
  def maxOps: Int
  /** Untimed: release what the last operation left cached. */
  def release(): Unit = ()
}

object Workloads {
  def apply(name: String): Workload = name match {
    case "x12" => new X12Workload
    case "operators" => new OperatorsWorkload
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** (files, bytes) of the data files under `p` modified since `sinceMs`;
    * checksums and commit markers are not counted.
    */
  def written(p: Path, sinceMs: Long = 0L): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter { f =>
        val n = f.getFileName.toString
        Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_") &&
          Files.getLastModifiedTime(f).toMillis >= sinceMs
      }.foldLeft((0L, 0L)) { case ((n, b), f) => (n + 1, b + Files.size(f)) }
      finally s.close()
    }
}

/** X12 medallion pipeline, as a fresh JVM runs it: the operation loads the
  * landing history into an empty store (what one `RunPipeline` invocation
  * does), then lands one small daily batch in the same directory and runs
  * the pipeline again on the next processing date. Load and batch are timed
  * together: the batch alone, about 13 s of mostly per-job latency, varied
  * by 12-36% from run to run on a shared 4-core machine.
  */
final class X12Workload extends Workload {
  val shape = Inputs.X12Shape(historyFiles = 100, batchFiles = 4, batches = 1)
  // a store takes its history load once
  val maxOps = 1
  def params: Map[String, Any] = Map("day0" -> day0.toLocalDate.toString)

  def generate(spark: SparkSession, seed: Long, in: Path): Unit =
    Inputs.x12(seed, in, shape)

  private val day0 = LocalDateTime.of(2025, 9, 1, 12, 0)

  private def sinkLayer(sink: String): String =
    if (sink == "_processed_files") "x12.ledger"
    else if (sink.startsWith("bronze")) "x12.bronze"
    else if (sink.startsWith("silver")) "x12.silver"
    else if (sink.startsWith("gold_")) "x12.gold"
    else if (sink.startsWith("acknowledgment")) "x12.ack997"
    else "x12.other"

  /** Layer of an SQL execution from its plan: the store sink it writes,
    * else the first sink it reads, else bronze when it scans the landing
    * directory.
    */
  def classify(store: String, landing: String)(plan: String): Option[String] = {
    val sink = java.util.regex.Pattern.quote(store) + "/([A-Za-z0-9_]+)"
    // formatted plans name the write target in the command's arguments
    val write = ("(?:Arguments: |path=)(?:file:)?" + sink).r
    write.findFirstMatchIn(plan).map(m => sinkLayer(m.group(1)))
      .orElse(sink.r.findFirstMatchIn(plan).map(m => sinkLayer(m.group(1))))
      .orElse(if (plan.contains(landing)) Some("x12.bronze") else None)
  }

  private val files = collection.mutable.Map[String, Double]().withDefaultValue(0.0)

  // every run maintains gold incrementally, as a scheduled deployment does,
  // so the batch finds the history load's plans already compiled
  private def runOnce(c: Ctx, batchId: String, day: Int): Unit = {
    val now = day0.plusDays(day)
    val landing = c.in.resolve("landing")
    val start = System.currentTimeMillis()
    val r = c.span("x12")(X12Pipeline.run(c.spark, landing.toString, c.out.toString,
      batchId, java.sql.Date.valueOf(now.toLocalDate),
      java.sql.Timestamp.valueOf(now), now, incrementalGold = true))
    if (c.tracer.isDefined) {
      val ls = Files.list(landing)
      files("x12.bronze.files_read") +=
        (try ls.iterator().asScala.count(_.toString.endsWith(".x12")) finally ls.close())
      // the run's bronze summary counts the files the ledger anti-join let
      // through (read from its JSON: a Spark job here would be traced)
      val summary = Files.walk(c.out.resolve("bronze_summary"))
      files("x12.bronze.files_new") += (try summary.iterator().asScala
        .filter(_.toString.endsWith(".json")).flatMap(f => Files.readAllLines(f).asScala)
        .flatMap(l => "\"files_found\":(\\d+)".r.findFirstMatchIn(l).map(_.group(1).toLong))
        .sum finally summary.close())
      val sinks = Files.list(c.out)
      try sinks.iterator().asScala.foreach { sink =>
        val layer = sinkLayer(sink.getFileName.toString)
        val (n, b) = Workloads.written(sink, start)
        files(s"$layer.files_written") += n
        files(s"$layer.mb_written") += b / 1048576.0
      } finally sinks.close()
    }
    last = Some(r)
  }

  private var last: Option[X12Pipeline.Result] = None

  // the caller owns the frames a run caches; a long-lived session must
  // release them before the next batch
  override def release(): Unit = {
    last.foreach { r => r.bronze.unpersist(); r.silver.unpersist() }
    last = None
  }

  def op(c: Ctx, i: Int): Unit = {
    stage("load_s")(runOnce(c, "FULL", 0))
    release()
    // the SFTP fetcher's part: the day's files land beside the history
    val s = Files.list(Inputs.batchDir(c.in, 1))
    try s.iterator().asScala.foreach(f =>
      Files.move(f, c.in.resolve("landing").resolve(f.getFileName)))
    finally s.close()
    stage("batch_s")(runOnce(c, "B01", 1))
  }

  override def traceExtras(c: Ctx): Map[String, Double] = files.toMap
}

/** The LLM-data side in one operation: the curation chain, then the
  * retrieval round. They share one JVM because every run pays its JVM,
  * session and JIT start again.
  */
final class OperatorsWorkload extends Workload {
  private val parts = Seq(new CurationChain, new RetrievalChain)
  val maxOps = 4
  def generate(spark: SparkSession, seed: Long, in: Path): Unit =
    parts.foreach(_.generate(spark, seed, in))
  def op(c: Ctx, i: Int): Unit = parts.foreach(_.op(c, i))
  def params: Map[String, Any] = parts.map(_.params).reduce(_ ++ _)
  override def traceExtras(c: Ctx): Map[String, Double] =
    parts.map(_.traceExtras(c)).reduce(_ ++ _)
  override def stages: Map[String, Double] = parts.map(_.stages).reduce(_ ++ _)
}

/** Curation chain over replicated crawl documents: front door → near-dup
  * pairs → clusters → dedup → model gate → token-budget mix → sequence
  * packing. Every stage writes its output, and the next stage reads it.
  */
final class CurationChain extends Chain {
  val base = 1000
  val factor = 4
  val editRate = 0.04
  val threshold = 0.5
  val perDomainK = 240
  /** LM gate: mean quantized log2-probability per bigram, times 1024. */
  val lmFloor = -10L * 1024L
  val budgets = Map("src0" -> 1000L, "src1" -> 10000L)
  val defaultBudget = 2000L
  val seqLen = 2048L
  def params: Map[String, Any] = Map("threshold" -> threshold,
    "budgets" -> budgets, "default_budget" -> defaultBudget, "seq_len" -> seqLen)

  def generate(spark: SparkSession, seed: Long, in: Path): Unit = {
    Inputs.writeParquet(spark, Inputs.documents(seed, base, factor, editRate),
      in.resolve("documents"), 4)
    import spark.implicits._
    Seq(s"src${Inputs.Sources - 1}.example.com", "blocked.invalid").toDF("domain")
      .write.mode("overwrite").parquet(in.resolve("blocklist").toString)
  }

  def op(c: Ctx, i: Int): Unit = {
    val spark = c.spark
    val docs = spark.read.parquet(c.in.resolve("documents").toString)
    val blocked = spark.read.parquet(c.in.resolve("blocklist").toString)
    stage("frontdoor_s")(c.span("operators.curation") {
      c.save(c.build(Curation.crawlFrontDoor(docs, "url", "doc_id", "text",
        blocked, perDomainK)), "frontdoor")
    })
    stage("dedup_s")(c.span("operators.textdedup") {
      val fd = c.read("frontdoor")
      c.save(c.build(TextDedup.ngramJaccardPairs(fd, "doc_id", "text", "lang",
        threshold, fast = true)), "pairs")
      c.save(c.build(TextDedup.dupClusters(
        c.read("pairs").select("doc_a", "doc_b"))), "clusters")
      c.save(c.build(TextDedup.applyDedup(fd, "doc_id", c.read("clusters"))),
        "survivors")
    })
    stage("gate_s")(c.span("operators.textanalysis") {
      val s = c.read("survivors")
      val gate = c.build(TextAnalysis.modelGate(
        train = s.filter(col("doc_id") % 2 === 0), docs = s,
        idCol = "doc_id", textCol = "text", ruleText = col("text"),
        labelCol = "lang", extra = Seq("source" -> col("source"),
          "n_tokens" -> size(split(col("text"), " ")))))
      c.save(gate.withColumn("admitted", col("keep") &&
        col("sum_lpq") >= lit(lmFloor) * col("n_bigrams") &&
        col("pred_label") === col("lang")), "gate")
    })
    stage("mix_s")(c.span("operators.sampling") {
      val admitted = c.read("gate").filter(col("admitted"))
        .select("doc_id", "source", "n_tokens")
      c.save(c.build(Sampling.tokenBudget(admitted, "source", "doc_id",
        "n_tokens", budgets, defaultBudget)), "mix")
      c.save(c.build(Sampling.packSequences(
        c.read("mix").select("doc_id", "n_tokens"), "doc_id", "n_tokens",
        seqLen)), "pack")
    })
  }

  override def traceExtras(c: Ctx): Map[String, Double] = {
    val (n, b) = Workloads.written(c.out.resolve("pack"))
    Map("operators.sampling.files_written" -> n.toDouble,
      "operators.sampling.mb_written" -> b / 1048576.0)
  }
}

/** Vector and keyword retrieval: IVF/PQ index build, a batch of top-k
  * queries (residual IVF-PQ, full-probe IVF and BM25), and the nprobe and
  * projection-dimension sweeps.
  */
final class RetrievalChain extends Chain {
  val nVectors = 3000
  val dim = 64
  val clusters = 24
  val cells = 8
  val subspaces = 4
  val centroidsPerSub = 8
  val queries = 16
  val k = 10
  val maxNprobe = 3
  val outDims = Seq(8, 32)
  val nDocs = 2000
  val bm25Queries = 8
  def params: Map[String, Any] = Map("k" -> k, "queries" -> queries,
    "max_nprobe" -> maxNprobe, "out_dims" -> outDims, "bm25_queries" -> bm25Queries)

  def generate(spark: SparkSession, seed: Long, in: Path): Unit = {
    Inputs.writeParquet(spark, Inputs.embeddings(seed, nVectors, dim, clusters),
      in.resolve("embeddings"), 4)
    Inputs.writeParquet(spark, Inputs.documents(seed + 1, nDocs, 1, 0.0)
      .map(d => (d.doc_id, d.text)), in.resolve("bm25_docs"), 4)
  }

  def op(c: Ctx, i: Int): Unit = {
    val spark = c.spark
    val emb = spark.read.parquet(c.in.resolve("embeddings").toString)
    val q = col("vec_id") < queries
    stage("build_s")(c.span("operators.ann") {
      c.save(c.build(Ann.kmeansFit(emb, "vec_id", "emb", cells, 2, dim)), "kmeans")
      c.save(Ann.kmeansCentroids(c.read("kmeans")), "centroids")
      c.save(c.build(Ann.pqFit(emb, "vec_id", "emb", subspaces, centroidsPerSub,
        1, dim)), "pqfit")
      c.save(c.build(Ann.pqEncode(emb, "vec_id", "emb", subspaces,
        centroidsPerSub, dim)), "codes")
    })
    val cents = c.read("centroids")
    stage("query_s") {
      c.span("operators.ann") {
        c.save(c.build(Ann.ivfPqResidualTopK(emb, "vec_id", "emb", cents, q, k,
          maxNprobe, subspaces, centroidsPerSub, dim)), "ivfpq")
        c.save(c.build(Ann.ivfProbe(Ann.ivfAssign(emb, "vec_id", "emb", cents),
          cents, q, k, cells)), "fullprobe")
      }
      c.span("operators.retrieval") {
        val docs = spark.read.parquet(c.in.resolve("bm25_docs").toString)
          .toDF("doc_id", "text")
        val qs = docs.filter(col("doc_id") < bm25Queries)
          .select(col("doc_id").as("query_id"),
            explode(split(col("text"), " ")).as("token")).distinct()
        c.save(c.build(Retrieval.bm25RankQueries(docs, "doc_id", "text", qs, k)),
          "bm25")
      }
    }
    stage("sweep_s")(c.span("operators.ann") {
      c.save(c.build(Ann.nprobeSweep(emb, "vec_id", "emb", cents, q, k,
        maxNprobe)), "nprobe_sweep")
      c.save(c.build(Ann.projectionDimSweep(emb, "vec_id", "emb", q, k, dim,
        outDims)), "dim_sweep")
    })
  }
}
