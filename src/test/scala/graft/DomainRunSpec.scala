package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Assembler, Genomics}
import graft.sources.Fastq

/** Golden-value regression over the reference repo's bundled example
  * reads — the only real dataset the reference ships. Values were
  * established by the first clean end-to-end run and pin the whole
  * FASTQ -> count -> assemble path. The fixture is not generated: when
  * it is absent the test fails with a message saying so (never skipped),
  * and `SyntheticRunSpec` keeps the same path covered meanwhile. */
class DomainRunSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** A test over the fixture that fails with a plain message, not a bare
    * PATH_NOT_FOUND, when the fixture is absent. */
  private def fixtureTest(name: String)(body: => Any): Unit =
    test(name) {
      try body catch {
        case e: org.apache.spark.sql.AnalysisException if e.getCondition == "PATH_NOT_FOUND" =>
          fail(s"FIXTURE MISSING: the reference example reads are absent (${e.getMessage}). " +
            "They are not in this checkout and cannot be regenerated or downloaded; " +
            "a human must restore them. This golden test stays red until then.")
      }
    }

  fixtureTest("reference example FASTQ assembles to the golden single contig") {
    val reads = Fastq.guardReads(
      Fastq.fastqSequences(spark, "/root/reference/example/*.fq.gz"), minLen = 31)
    assert(reads.count() == 2300)
    val counts = Genomics.countCanonical(reads, 31).localCheckpoint()
    assert(counts.count() == 43748)
    val contigs = Assembler.assemble(counts, 31, minCov = 2, maxIter = 150,
      minContig = 62).collect()
    assert(contigs.length == 1)
    assert(contigs.head.length == 4575)
  }
}
