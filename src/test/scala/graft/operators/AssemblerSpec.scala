package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.core.{KmerCodec, KmerIter}

class AssemblerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def rcStr(s: String): String =
    s.reverse.map { case 'A' => 'T'; case 'C' => 'G'; case 'G' => 'C'; case 'T' => 'A' }
  private def canonStr(s: String): String = { val r = rcStr(s); if (s <= r) s else r }

  private def randGenome(n: Int, seed: Long): String = {
    val r = new scala.util.Random(seed)
    Array.fill(n)("ACGT"(r.nextInt(4))).mkString
  }

  /** Simulated error-free shotgun reads: sliding windows, half RC'd. */
  private def reads(genome: String, len: Int, step: Int): Seq[String] =
    ((0 to genome.length - len by step) :+ (genome.length - len)).distinct.map { i =>
      val w = genome.substring(i, i + len)
      if (i % 2 == 0) w else rcStr(w)
    }

  private def assembleFrom(rds: Seq[String], k: Int): Seq[String] = {
    import spark.implicits._
    val counts = Genomics.countCanonical(rds.toDS(), k)
    Assembler.assemble(counts, k, minCov = 1, maxIter = 40).collect().toSeq
  }

  test("contractChainsLong (primitive endgame walk) == generic contractChains") {
    // random disjoint path/cycle mixtures: fragment the k-mer chains of
    // several genomes (open paths) and circles (cycles) at random split
    // points, shuffle, and demand the two walks emit the same fragment SET
    // (order differs only by emit phase; both phases are compared sorted)
    val k = 9
    for (seed <- 1 to 10) {
      val r = new scala.util.Random(seed)
      val frags = scala.collection.mutable.ArrayBuffer.empty[Assembler.Frag]
      def pack(s: String): Long =
        s.foldLeft(0L)((a, c) => (a << 2) | "ACGT".indexOf(c).toLong)
      def fragment(seq: String, circular: Boolean): Unit = {
        // cut the sequence into >= 1 overlapping-(k-1) fragments
        var cuts = (1 until (seq.length - k + 1)).filter(_ => r.nextInt(4) == 0)
        val bounds = (0 +: cuts :+ (seq.length - k + 1)).distinct.sorted
        bounds.zip(bounds.tail).foreach { case (a, b) =>
          val sub = seq.substring(a, b + k - 1)
          frags += Assembler.Frag(pack(sub.take(k - 1)), pack(sub.takeRight(k - 1)),
            KmerCodec.encodeBlocks(sub))
        }
      }
      // open paths: distinct random genomes (collision-unlikely at len 60)
      (0 until 3).foreach(i => fragment(randGenome(60, seed * 100 + i), circular = false))
      // cycles: a genome wrapped by its own first k-1 bases
      val g = randGenome(40, seed * 100 + 50)
      fragment(g + g.take(k - 1), circular = true)
      val shuffled = r.shuffle(frags.toSeq).toArray
      // an 8-mer head collision across random genomes would trip the
      // duplicate-head invariant in BOTH walks — not what's under test
      if (shuffled.map(_.head).distinct.length != shuffled.length) {
        info(s"seed=$seed skipped: head collision in the random fixture")
      } else {
      def key(f: Assembler.Frag) = (f.head, f.tail, KmerCodec.decodeBlocks(f.seq))
      val generic = Assembler.contractChains(
        shuffled.map(f => (f.head, f.tail, f.seq)), k)
        .map { case (h, t, s) => (h, t, KmerCodec.decodeBlocks(s)) }.toSeq.sorted
      val fast = Assembler.contractChainsLong(shuffled, k).map(key).toSeq.sorted
      assert(fast == generic, s"seed=$seed")
      }
    }
  }

  test("single genome reconstructs exactly (both-strand reads)") {
    val genome = randGenome(600, seed = 7)
    val contigs = assembleFrom(reads(genome, 80, 9), 31)
    assert(contigs == Seq(canonStr(genome)))
  }

  test("two disjoint genomes give two contigs") {
    val a = randGenome(400, seed = 11)
    val b = randGenome(400, seed = 13)
    val contigs = assembleFrom(reads(a, 80, 9) ++ reads(b, 80, 9), 31)
    assert(contigs.toSet == Set(canonStr(a), canonStr(b)))
  }

  test("contigs are valid De Bruijn paths even with a shared repeat (fork)") {
    val shared = randGenome(60, seed = 17)
    val a = randGenome(200, seed = 19) + shared + randGenome(200, seed = 23)
    val b = randGenome(200, seed = 29) + shared + randGenome(200, seed = 31)
    val k = 31
    val rds = reads(a, 80, 7) ++ reads(b, 80, 7)
    val inputKmers: Set[Long] =
      rds.flatMap(r => KmerIter.canonicalLong(r, k)).toSet
    val contigs = assembleFrom(rds, k)
    // The fork at the shared segment means per-genome reconstruction is not
    // guaranteed, but every contig must still be a walk through input kmers.
    assert(contigs.size >= 2)
    contigs.foreach { c =>
      assert(c.length >= k)
      KmerIter.canonicalLong(c, k).foreach(kv => assert(inputKmers.contains(kv)))
    }
  }

  test("circular genome terminates as a closed cycle contig") {
    import graft.core.KmerIter
    val k = 31
    val core = randGenome(400, seed = 43)
    val circular = core + core.substring(0, k - 1) // wrap-around k-mers
    val rds = reads(circular, 80, 9)
    val contigs = assembleFrom(rds, k)
    // both strands normalize to the same minimal-rotation cycle: a single
    // contig covering all 400 cycle edges, with k-1 wrap bases duplicated
    assert(contigs.size == 1)
    assert(contigs.head.length == core.length + k - 1)
    val expectedCore = ((0 until core.length).map(i => core.drop(i) + core.take(i)) ++
      (0 until core.length).map { i => val r = rcStr(core); r.drop(i) + r.take(i) }).min
    assert(contigs.head == expectedCore + expectedCore.take(k - 1))
    val inputKmers = rds.flatMap(r => KmerIter.canonicalLong(r, k)).toSet
    KmerIter.canonicalLong(contigs.head, k).foreach(kv => assert(inputKmers.contains(kv)))
  }

  /** Expected contig for a De Bruijn cycle with core `core` at k: minimal
    * rotation over both strands, then a cyclic k-1 wrap (repeats the core
    * more than once when the period is shorter than k-1). */
  private def expectedCycle(core: String, k: Int): String = {
    val rc = rcStr(core)
    val m = ((0 until core.length).map(i => core.drop(i) + core.take(i)) ++
      (0 until rc.length).map(i => rc.drop(i) + rc.take(i))).min
    m + (m * ((k - 2) / m.length + 1)).substring(0, k - 1)
  }

  test("tandem repeat with period 4 < k-1 assembles without crashing (r2 bench bug)") {
    // the exact bench-warmup input that crashed round 2: period-4 read, k=21
    val contigs = assembleFrom(Seq("ACGTACGTACGTACGTACGTACGTACGTACGT"), 21)
    assert(contigs == Seq(expectedCycle("ACGT", 21)))
  }

  test("period-3 tandem repeat normalizes deterministically on both strands") {
    val genome = "ACG" * 20
    val contigs = assembleFrom(reads(genome, 40, 5), 21)
    assert(contigs == Seq(expectedCycle("ACG", 21)))
  }

  test("period k-2 cycle (core one base short of the wrap) is wrapped cyclically") {
    val k = 21
    val core = randGenome(k - 2, seed = 53)
    val genome = core * 6
    val contigs = assembleFrom(reads(genome, 50, 7), k)
    assert(contigs == Seq(expectedCycle(core, k)))
  }

  test("wide-k assembler survives short-period cycles too") {
    import spark.implicits._
    val rds = Seq("ACGT" * 16) // period 4, read len 64, k = 40
    val counts = rds.toDS().flatMap(r => graft.core.KmerIter.canonicalBlocks(r, 40))
      .toDF("kb").groupBy("kb").count()
    val contigs = AssemblerWide.assemble(counts, 40, minCov = 1, maxIter = 60)
      .collect().toSeq
    assert(contigs == Seq(expectedCycle("ACGT", 40)))
  }

  test("wide-k (k=45) assembly reconstructs via the block-key path") {
    import spark.implicits._
    val genome = randGenome(500, seed = 47)
    val rds = reads(genome, 100, 9)
    val counts = rds.toDS().flatMap(r => graft.core.KmerIter.canonicalBlocks(r, 45))
      .toDF("kb").groupBy("kb").count()
    val contigs = AssemblerWide.assemble(counts, 45, minCov = 1, maxIter = 60)
      .collect().toSeq
    assert(contigs == Seq(canonStr(genome)))
  }

  test("coverage filter drops error kmers before assembly") {
    val genome = randGenome(300, seed = 37)
    // duplicate true reads 3x, inject one erroneous read once
    val good = reads(genome, 80, 9)
    val errRead =
      genome.substring(10, 90).updated(40, if (genome(50) != 'A') 'A' else 'C')
    val all = good ++ good ++ good ++ Seq(errRead)
    import spark.implicits._
    val counts = Genomics.countCanonical(all.toDS(), 31)
    val contigs = Assembler.assemble(counts, 31, minCov = 2, maxIter = 40).collect().toSeq
    assert(contigs == Seq(canonStr(genome)))
  }

  /** Merge-rate pin: with `localThreshold = 0` the whole contraction runs
    * as distributed rounds. Junction-priority offers merge an interior
    * junction with probability 1/3 per round and take 30 rounds here;
    * the independent 1/4 coins they replaced took 42 on the same input. */
  test("junction-priority merging: exact contig and a pinned round budget (fully distributed)") {
    import graft.core.Counters
    val genome = randGenome(20000, seed = 59)
    val rds = reads(genome, 100, 11)
    import spark.implicits._
    val counts = Genomics.countCanonical(rds.toDS(), 31).localCheckpoint()
    val before = Counters.snapshot
    val contigs = Assembler.assemble(counts, 31, minCov = 1, maxIter = 200,
      localThreshold = 0).collect().toSeq
    val rounds = Counters.diff(before, Counters.snapshot).getOrElse("assembler.rounds", 0L)
    assert(contigs == Seq(canonStr(genome)))
    assert(rounds > 0 && rounds <= 33, s"assembler.rounds = $rounds")
  }
}
