package graftbench

import java.io.{File, PrintWriter}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.KmerIter
import graft.operators._
import graft.sources.Fastq

/** One pipeline in one fresh JVM, making the public calls `graft.Main`
  * makes for `run`, `meta` and `curate`.
  *
  * {{{
  * Harness mode=<setup|asm_rounds|meta_multik|curate_all> in=<input dir>
  *         work=<scratch dir> result=<json file> trace=<0|1> [workload options]
  * }}}
  *
  * `result` receives one JSON object: the epoch ms at which the
  * SparkSession was ready, the pipeline's wall time (first call into graft
  * until the output is committed), and the process's peak RSS. With
  * `trace=1` it also carries the per-layer metrics, and `work/trace.json`
  * receives every span with its execution rollup. The pipeline's output
  * lands under `work/out`.
  */
object Harness {
  private val Cores = 4

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val mode = opt("mode")
    val work = opt("work")
    val traced = opt.getOrElse("trace", "0") == "1"
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val readyMs = System.currentTimeMillis()
    val result = mutable.LinkedHashMap[String, String]("ready_ms" -> readyMs.toString)

    if (mode != "setup") {
      val tracer = new Tracer(traced)
      val rollups = if (traced) Some(new Rollups) else None
      rollups.foreach { r =>
        spark.sparkContext.addSparkListener(r)
        spark.listenerManager.register(r)
      }
      val before = JvmCounters.snapshot()
      val t0 = System.nanoTime()
      tracer("pipeline") {
        mode match {
          case "asm_rounds" => asmRounds(spark, tracer, opt)
          case "meta_multik" => metaMultik(spark, tracer, opt)
          case "curate_all" => curateAll(spark, tracer, opt)
        }
      }
      result("pipeline_s") = Json.num((System.nanoTime() - t0) / 1e9)
      val counters = JvmCounters.delta(before, JvmCounters.snapshot())
      rollups.foreach { r =>
        val probes = kernelProbes(opt("probe_reads"))
        subOperatorProbes(spark, tracer, opt("probe_corpus"))
        org.apache.spark.BenchListenerBus.drain(spark.sparkContext)
        result("layers") = Json.nums(layerMetrics(tracer, r, counters) ++ probes ++
          tracer.spans.filter(_.name.startsWith("probe:")).flatMap { s =>
            val n = s.name.stripPrefix("probe:")
            Seq(s"$n.s" -> s.seconds, s"$n.jobs" -> r.rollup(Seq(s), Cores)("jobs"))
          })
        writeTrace(s"$work/trace.json", tracer, r)
      }
    }
    result("peak_rss_mb") = Json.num(JvmCounters.peakRssMb())
    spark.stop()
    val pw = new PrintWriter(new File(opt("result")))
    try pw.println(Json.obj(result)) finally pw.close()
  }

  // ------------------------------------------------------------ pipelines

  /** `Main run`: heuristic FASTQ scan, length guard, k<=31 count, the
    * packed-Long assembler, FASTA sink. */
  private def asmRounds(spark: SparkSession, t: Tracer, opt: Map[String, String]): Unit = {
    val k = opt("k").toInt
    val minCov = opt("min_cov").toInt
    val reads = readsOf(spark, t, opt("in"), k)
    graft.functions.GraftFunctions.register(spark)
    val counts = t("operators.Genomics.countCanonical")(Genomics.countCanonical(reads, k))
    val contigs = t("operators.Assembler.assemble")(
      Assembler.assemble(counts.filter(col("count") <= 10000000L), k,
        minCov = minCov, maxIter = 150, minContig = opt("min_contig").toInt,
        minError = 4 * minCov, localThreshold = opt("local_threshold").toLong))
    t("sources.Fastq.writeFasta")(
      Fastq.writeFasta(contigs.toDF("contig"), s"${opt("work")}/out/Assembly"))
  }

  /** `Main meta`: the staged dynamic-k ladder, FASTA sink. */
  private def metaMultik(spark: SparkSession, t: Tracer, opt: Map[String, String]): Unit = {
    val kList = opt("klist").split(",").map(_.toInt).toSeq
    val minCov = opt("min_cov").toInt
    val reads = readsOf(spark, t, opt("in"), kList.min)
    val out = s"${opt("work")}/out"
    val contigs = t("operators.Pipelines.dynamicAssembly")(
      Pipelines.dynamicAssembly(spark, reads, kList, s"$out/stages",
        minCov = minCov, minContig = opt("min_contig").toInt, minError = 4 * minCov))
    t("sources.Fastq.writeFasta")(Fastq.writeFasta(contigs.toDF("contig"), s"$out/Assembly"))
  }

  private def readsOf(spark: SparkSession, t: Tracer, in: String, minLen: Int) = {
    val raw = t("sources.Fastq.fastqSequencesHeuristic")(
      Fastq.fastqSequencesHeuristic(spark, s"$in/reads_*.fq"))
    t("sources.Fastq.guardReads")(Fastq.guardReads(raw, minLen = minLen))
  }

  /** `Main curate` with every verdict on, then the flags write and the
    * curated join write. */
  private def curateAll(spark: SparkSession, t: Tracer, opt: Map[String, String]): Unit = {
    val in = opt("in")
    val out = s"${opt("work")}/out"
    val (docs, test, emb) = t("sources.parquet.read")((
      spark.read.parquet(s"$in/docs.parquet"),
      spark.read.parquet(s"$in/test.parquet"),
      spark.read.parquet(s"$in/embeddings.parquet")))
    val flags = t("operators.Curation.curate")(
      Curation.curate(docs, test, Some(emb),
        classifierMin = Some(opt("classifier_min").toLong),
        dsirTargetLang = Some(opt("dsir_lang")),
        clusterSplit = true,
        fertilityMax = Some(opt("fertility_max").toLong)).cache())
    t("sources.parquet.write.curation_flags")(
      flags.write.mode("overwrite").parquet(s"$out/curation_flags"))
    t("sources.parquet.write.curated")(
      docs.join(flags.filter(col("keep") === 1).select("doc_id", "split"), "doc_id")
        .write.mode("overwrite").parquet(s"$out/curated"))
  }

  // ---------------------------------------------------------------- layers

  private def layerMetrics(t: Tracer, r: Rollups,
                           counters: Map[String, Double]): Map[String, Double] = {
    val root = t.spans.find(_.name == "pipeline").get
    val top = t.children(root.id)
    def layer(prefix: String): Map[String, Double] =
      r.rollup(top.filter(_.name.startsWith(prefix + ".")), Cores)
        .filter { case (k, _) => !Set("input_mb", "input_records", "output_mb")(k) }
        .map { case (k, v) => s"$prefix.$k" -> v }
    val whole = r.rollup(Seq(root), Cores)
    val c = (k: String) => counters.getOrElse(k, 0.0)
    val rounds = c("assembler.rounds")
    val phase = (p: String) => Option(r.phases.get(p)).map(_.toDouble / 1000.0).getOrElse(0.0)
    layer("operators") ++ layer("sources") ++ Map(
      "assembler.rounds" -> rounds,
      "assembler.seed_rows" -> c("assembler.seed_rows"),
      "assembler.endgame_rows" -> c("assembler.endgame_rows"),
      "assembler.endgame_bases" -> c("assembler.endgame_bases"),
      // fragments merged away by distributed rounds, per round
      "assembler.merged_per_round" ->
        (if (rounds > 0) (c("assembler.seed_rows") - c("assembler.endgame_rows")) / rounds else 0.0),
      "sources.input_mb" -> whole("input_mb"),
      "sources.input_records" -> whole("input_records"),
      "sources.output_mb" -> whole("output_mb"),
      "sources.write_s" -> top.filter(_.name.contains(".write")).map(_.seconds).sum,
      "catalyst.analysis_s" -> phase("analysis"),
      "catalyst.optimization_s" -> phase("optimization"),
      "catalyst.planning_s" -> phase("planning"),
      "codegen.compile_s" -> c("codegen.compile_s"),
      "codegen.classes" -> c("codegen.classes"),
      "jvm.jit_s" -> c("jvm.jit_s"),
      "jvm.gc_s" -> c("jvm.gc_s"))
  }

  private def writeTrace(path: String, t: Tracer, r: Rollups): Unit = {
    val spans = t.spans.map { s =>
      Json.obj(Seq("id" -> s.id.toString, "name" -> Json.str(s.name),
        "parent" -> s.parent.toString, "start_ms" -> Json.num(s.start),
        "end_ms" -> Json.num(s.end), "rollup" -> Json.nums(r.rollup(Seq(s), Cores))))
    }
    val jobs = r.jobs.asScala.toSeq.sortBy(_.id).map { j =>
      Json.obj(Seq("id" -> j.id.toString, "start_ms" -> j.start.toString,
        "end_ms" -> j.end.toString, "stages" -> j.stages.mkString("[", ", ", "]")))
    }
    val pw = new PrintWriter(new File(path))
    try pw.println(spans.mkString("{\"spans\": [\n", ",\n", "\n],\n") +
      jobs.mkString("\"jobs\": [\n", ",\n", "\n]}"))
    finally pw.close()
  }

  // ---------------------------------------------------------------- probes

  /** Single-threaded k-mer kernels over FASTQ reads: median ns per input
    * base over five passes after one warm-up pass. */
  private def kernelProbes(readsDir: String): Map[String, Double] = {
    val seqs = new File(readsDir).listFiles().filter(_.getName.endsWith(".fq"))
      .sortBy(_.getName).iterator
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f)
        try src.getLines().zipWithIndex.collect { case (l, i) if i % 4 == 1 => l }.toVector
        finally src.close()
      }.take(20000).toArray
    val bases = seqs.map(_.length.toLong).sum
    def nsPerBase(kernel: String => Long): Double = {
      var sink = 0L
      val passes = (0 until 6).map { _ =>
        val t0 = System.nanoTime()
        seqs.foreach(s => sink ^= kernel(s))
        (System.nanoTime() - t0).toDouble / bases
      }.drop(1).sorted
      if (sink == 42L) println("") // keeps the kernels' results live
      passes(passes.size / 2)
    }
    Map(
      "core.KmerIter.canonicalLong.ns_per_base" -> nsPerBase { s =>
        var acc = 0L
        val it = KmerIter.canonicalLong(s, 31)
        while (it.hasNext) acc ^= it.next()
        acc
      },
      "core.KmerIter.canonicalBlocks.ns_per_base" -> nsPerBase { s =>
        var acc = 0L
        val it = KmerIter.canonicalBlocks(s, 63)
        while (it.hasNext) acc ^= it.next()(0)
        acc
      })
  }

  /** Each public sub-operator that `Curation.curate` composes, called
    * alone on a documents table and run to completion. Spans are named
    * `probe:<layer.operator>`; their inputs are materialized outside them. */
  private def subOperatorProbes(spark: SparkSession, t: Tracer,
                                corpusDir: String): Unit = {
    val docs = spark.read.parquet(s"$corpusDir/docs.parquet")
    val base = docs.select(col("doc_id"), col("text")).localCheckpoint()
    val vs = spark.read.parquet(s"$corpusDir/embeddings.parquet")
      .select(col("doc_id").as("vec_id"), col("v")).localCheckpoint()
    def run(name: String)(df: => DataFrame): Unit =
      t(s"probe:operators.$name")(df.write.format("noop").mode("overwrite").save())
    val pairs = Dedup.nearDupPairs(base).localCheckpoint()
    run("Dedup.nearDupPairs")(Dedup.nearDupPairs(base))
    run("GraphOps.connectedComponents")(
      GraphOps.connectedComponents(pairs.select(col("a").as("x"), col("b").as("y"))))
    run("Shingles.wordNGrams")(Shingles.wordNGrams(base, 5))
    run("KMeans.lloyd")(KMeans.lloyd(vs, 32, iters = 2))
    val cents = KMeans.lloyd(vs, 32, iters = 2).localCheckpoint()
    run("Similarity.semDedup")(Similarity.semDedup(vs, cents, 0.999))
    run("TextOps.dsirWeights")(TextOps.dsirWeights(docs, "en"))
    run("Sketches.linearScore")(Sketches.linearScore(base))
  }
}
