package graft

import java.io.{File, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.zip.GZIPOutputStream
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Counters, KmerIter}
import graft.operators.{Assembler, Genomics}
import graft.sources.Fastq

/** Golden run of the real-input path — gzipped paired FASTQ ->
  * `fastqSequencesHeuristic` -> `guardReads` -> `countCanonical` ->
  * `assemble` — on a seeded synthetic genome written to a temp dir, so the
  * path stays pinned without any external fixture. A small
  * `localThreshold` makes the distributed contraction rounds run before
  * the single-task endgame. */
class SyntheticRunSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def rcStr(s: String): String =
    s.reverse.map { case 'A' => 'T'; case 'C' => 'G'; case 'G' => 'C'; case 'T' => 'A' }

  /** Error-free 100 bp mate pairs with a 300 bp insert: mate 1 reads the
    * forward strand, mate 2 the reverse strand; the last pair ends flush
    * with the genome. */
  private def writePairs(dir: File, genome: String): Int = {
    val (len, insert, step) = (100, 300, 7)
    val starts = ((0 to genome.length - insert by step) :+ (genome.length - insert)).distinct
    def write(mateNo: Int, mate: Int => String): Unit = {
      val w = new OutputStreamWriter(new GZIPOutputStream(
        new java.io.FileOutputStream(new File(dir, s"reads_$mateNo.fq.gz"))),
        StandardCharsets.US_ASCII)
      try starts.zipWithIndex.foreach { case (p, i) =>
        val r = mate(p)
        w.write(s"@syn:$i/$mateNo\n$r\n+\n${"I" * r.length}\n")
      } finally w.close()
    }
    write(1, p => genome.substring(p, p + len))
    write(2, p => rcStr(genome.substring(p + insert - len, p + insert)))
    2 * starts.length
  }

  test("synthetic paired FASTQ assembles to exactly the canonical genome") {
    val r = new scala.util.Random(2024)
    val genome = Array.fill(6000)("ACGT"(r.nextInt(4))).mkString
    val dir = java.nio.file.Files.createTempDirectory("graft-synthetic-fq").toFile
    val nReads = writePairs(dir, genome)
    val reads = Fastq.guardReads(
      Fastq.fastqSequencesHeuristic(spark, s"${dir.getPath}/*.fq.gz"), minLen = 31)
    assert(reads.count() == nReads)
    val counts = Genomics.countCanonical(reads, 31).localCheckpoint()
    assert(counts.count() == KmerIter.canonicalLong(genome, 31).toSet.size)
    val before = Counters.snapshot
    val contigs = Assembler.assemble(counts, 31, minCov = 1, maxIter = 150,
      minContig = 62, localThreshold = 500).collect().toSeq
    val delta = Counters.diff(before, Counters.snapshot)
    assert(delta.getOrElse("assembler.rounds", 0L) > 0, "no distributed round ran")
    val canon = { val rc = rcStr(genome); if (genome <= rc) genome else rc }
    assert(contigs == Seq(canon))
  }
}
