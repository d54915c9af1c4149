package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.core.KmerCodec
import graft.sources.StageRunner

/** Wide-k assembly (k > 31): the same fork-filter + junction-priority contraction
  * algorithm as [[Assembler]], with (k-1)-mer endpoint keys AND sequences
  * in 2-bit block form (the reference's 64-bit variants,
  * `ReflexivDSMain64.java` / `ReflexivDSDynamicKmer64.java`, cover this
  * regime with `long[]` keys; the dynamic ladder runs to k=95).
  *
  * Endpoint keys shuffle as packed `Array[Long]` blocks — 24 B at k=95
  * vs 94 B as a string — so per-round shuffle volume stays ~4x smaller
  * in the wide regime. Arrays have reference equality on the JVM, so
  * every content comparison below goes through `java.util.Arrays.equals`
  * / `KmerCodec.compareBlocks`, and group keys are wrapped `.toSeq`
  * (content hash/equality) right before the shuffle.
  */
object AssemblerWide {

  /** A path fragment with block-packed endpoints + sequence. */
  case class FragW(head: Array[Long], tail: Array[Long], seq: Array[Long])

  private def hashBlocks(b: Array[Long]): Long = {
    var h = 0x165667B19E3779F9L
    var i = 0
    while (i < b.length) { h = (h + b(i)) * 0x9E3779B97F4A7C15L; i += 1 }
    h
  }

  /** True iff the fragment offers at its tail junction this round (see
    * [[Assembler.junctionRank]]). */
  private def offersTail(f: FragW, iter: Int): Boolean =
    Assembler.junctionRank(hashBlocks(f.tail), iter) >
      Assembler.junctionRank(hashBlocks(f.head), iter)

  /** Deterministic content ordering for the merge pairing. */
  private val fragOrd: Ordering[FragW] = new Ordering[FragW] {
    def compare(a: FragW, b: FragW): Int = {
      val c = KmerCodec.compareBlocks(a.head, b.head)
      if (c != 0) c else KmerCodec.compareBlocks(a.tail, b.tail)
    }
  }

  /** RC-mirrored oriented edge table in the string domain:
    * `(kmer, prefix, suffix, count)`. */
  private def mirroredEdges(counts: DataFrame, k: Int): DataFrame = {
    val s = counts.sparkSession
    import s.implicits._
    counts.as[(Array[Long], Long)]
      .flatMap { case (kb, c) =>
        val rc = KmerCodec.rcBlocks(kb)
        val fwd = KmerCodec.decodeBlocks(kb)
        if (KmerCodec.compareBlocks(kb, rc) == 0) Iterator((fwd, c))
        else Iterator((fwd, c), (KmerCodec.decodeBlocks(rc), c))
      }
      .map { case (km, c) => (km, km.substring(0, k - 1), km.substring(1), c) }
      .toDF("kmer", "prefix", "suffix", "count")
  }

  /** [[Assembler.ForkSide]] for the string edge table: out-edges are
    * labelled by the k-mer's last character, in-edges by its first, and a
    * survivor's k-mer is the node key with its base appended or
    * prepended. */
  private[operators] def wideSide(k: Int): Assembler.ForkSide = new Assembler.ForkSide {
    def apply(df: DataFrame, out: Boolean, value: Column,
              pick: Assembler.ForkPick): DataFrame = {
      import df.sparkSession.implicits._
      val (node, base) =
        if (out) (col("prefix"), substring(col("kmer"), k, 1))
        else (col("suffix"), substring(col("kmer"), 1, 1))
      Assembler.fourCells(df, node, base, value, Seq("A", "C", "G", "T"))
        .as[(String, Long, Long, Long, Long)]
        .flatMap { case (gk, c0, c1, c2, c3) =>
          val c = Array(c0, c1, c2, c3)
          val m = pick(c)
          Assembler.survivors(m).map { b =>
            val km = if (out) gk + "ACGT".charAt(b) else "ACGT".charAt(b).toString + gk
            (km, c(b), km.substring(0, k - 1), km.substring(1),
              (m & Assembler.PickFlag) != 0)
          }
        }
        .toDF("kmer", "count", "prefix", "suffix", "flag")
    }
  }

  /** P6 + J2 for block-encoded counts `(kb: Array[Long], count)`; see
    * [[Assembler.resolveForks]] for the `popBubbles` / `minError`
    * semantics. */
  def forkFilteredEdges(counts: DataFrame, k: Int,
                        popBubbles: Boolean = true,
                        minError: Int = 0): DataFrame =
    Assembler.resolveForks(mirroredEdges(counts, k), wideSide(k), popBubbles, minError)

  /** Wide-k `-scramble` seed (see [[Assembler.resolveForksUnitig]] for the
    * repeat semantics): fragments whose barrier-touching endpoints are
    * replaced by per-edge unique keys so contraction stops at repeat
    * junctions, each incident unitig keeping the junction's k-1 bases.
    * Block-domain salting: the salted key is the edge's own k-mer blocks
    * with one extra flag long appended (0 = head, 1 = tail). Real endpoint
    * keys are (k-1)-base arrays of `blocksFor(k-1)` longs; salted keys
    * have `blocksFor(k) + 1` — strictly longer, so they can never collide
    * with a real key, and the k-mer content makes them unique per oriented
    * edge (the sign-bit trick of the narrow path has no block analogue:
    * bit 63 carries base data here). */
  private def scrambleSeed(counts: DataFrame, k: Int,
                           minError: Int): Dataset[FragW] = {
    val s = counts.sparkSession
    import s.implicits._
    val (edges, barriers) =
      Assembler.resolveForksUnitig(mirroredEdges(counts, k), wideSide(k), minError)
    edges
      .join(barriers.select(col("gk").as("bp")), col("prefix") === col("bp"), "left")
      .join(barriers.select(col("gk").as("bs")), col("suffix") === col("bs"), "left")
      .select(col("kmer"), col("bp").isNotNull.as("sh"), col("bs").isNotNull.as("st"))
      .as[(String, Boolean, Boolean)]
      .map { case (km, sh, st) =>
        val blocks = KmerCodec.encodeBlocks(km)
        val head = if (sh) blocks :+ 0L else KmerCodec.sliceBlocks(blocks, 0, k - 1)
        val tail = if (st) blocks :+ 1L else KmerCodec.sliceBlocks(blocks, 1, k)
        FragW(head, tail, blocks)
      }
  }

  private[operators] def mergeRound(frags: Dataset[FragW], k: Int, iter: Int): Dataset[FragW] = {
    import frags.sparkSession.implicits._
    frags
      .map { f =>
        val h = offersTail(f, iter)
        // Seq wrapper: content-based equality/hash for the group key
        ((if (h) f.tail else f.head).toSeq, h, f)
      }
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val (hs, ts) = it.toSeq.partition(_._2)
        val heads = hs.map(_._3).sorted(fragOrd)
        val tails = ts.map(_._3).sorted(fragOrd)
        val merged = heads.zip(tails).map { case (a, b) =>
          val lenB = KmerCodec.lengthOf(b.seq)
          FragW(a.head, b.tail,
            KmerCodec.concatBlocks(a.seq, KmerCodec.sliceBlocks(b.seq, k - 1, lenB)))
        }
        val rest = heads.drop(tails.length) ++ tails.drop(heads.length)
        (merged ++ rest).iterator
      }
  }

  /** Wide-k assembly from block-encoded canonical counts. Same contract as
    * [[Assembler.assemble]] (exact two-tier convergence probe, cycle
    * normalization via minimal rotation, durable round checkpoints +
    * restart-resume when `ckptDir` is set). */
  def assemble(counts: DataFrame, k: Int, minCov: Int = 1, maxIter: Int = 60,
               probeEvery: Int = 3, minContig: Int = 0,
               ckptDir: Option[String] = None,
               popBubbles: Boolean = true,
               localThreshold: Long = 2000000L,
               localMaxBases: Long = 500000000L,
               minError: Int = 0,
               scramble: Boolean = false): Dataset[String] = {
    val s = counts.sparkSession
    import s.implicits._
    val runner = ckptDir.map(new StageRunner(s, _))
    val resumeIter = runner.toSeq.flatMap(_.completed("frags_i"))
      .map(_.stripPrefix("frags_i").toInt).maxOption
    def seed(): Dataset[FragW] =
      if (scramble) scrambleSeed(counts.filter(col("count") >= minCov), k, minError)
      else {
        val edges = forkFilteredEdges(counts.filter(col("count") >= minCov), k,
          popBubbles, minError)
        edges.select("kmer").as[String]
          .map { km =>
            val blocks = KmerCodec.encodeBlocks(km)
            FragW(KmerCodec.sliceBlocks(blocks, 0, k - 1),
              KmerCodec.sliceBlocks(blocks, 1, k), blocks)
          }
      }
    def durable(name: String, ds: => Dataset[FragW]): Dataset[FragW] =
      runner.get.stage(name)(ds.toDF()).as[FragW]
    var frags: Dataset[FragW] = (runner, resumeIter) match {
      case (Some(_), Some(i)) => durable(s"frags_i$i", sys.error("resume never recomputes"))
      case (Some(_), None)    => durable("frags_i0", seed())
      case _                  => seed().localCheckpoint()
    }
    var lastCkpt: Dataset[FragW] = frags
    var lastCount = -1L
    var iter = resumeIter.getOrElse(0)
    var done = false
    // one cheap cached-scan job deciding distributed-vs-local entry; the
    // byte side keeps the single-task endgame executor-sized (see
    // Assembler.assemble's localMaxBases doc)
    def stats(ds: Dataset[FragW]): (Long, Long) =
      ds.mapPartitions { it =>
        var cnt = 0L; var b = 0L
        it.foreach { f => cnt += 1; b += KmerCodec.lengthOf(f.seq) }
        Iterator((cnt, b))
      }.collect().foldLeft((0L, 0L)) { case ((an, ab), (cn, cb)) => (an + cn, ab + cb) }
    var (n, bases) = stats(frags)
    graft.core.Counters.add("assembler.seed_rows", n)
    while (iter < maxIter && !done) {
      if (n <= localThreshold && bases <= localMaxBases) {
        // last-mile local contraction (see Assembler.contractChains)
        graft.core.Counters.add("assembler.endgame_rows", n)
        graft.core.Counters.add("assembler.endgame_bases", bases)
        frags = frags.coalesce(1).mapPartitions { it =>
          Assembler.contractChains(
            it.map(f => (f.head.toSeq, f.tail.toSeq, f.seq)).toArray, k)
            .map { case (h, t, sq) => FragW(h.toArray, t.toArray, sq) }
        }
        done = true
      } else {
        frags = mergeRound(frags, k, iter)
        iter += 1
        if (iter % probeEvery == 0) {
          val ckpt = runner match {
            case Some(r) =>
              val name = s"frags_i$iter"
              val df = durable(name, frags)
              r.completed("frags_i").filterNot(_ == name).foreach(r.clean)
              df
            case None =>
              val c = frags.localCheckpoint()
              if (lastCkpt != null) lastCkpt.unpersist()
              lastCkpt = c
              c
          }
          frags = ckpt
          locally { val st = stats(ckpt); n = st._1; bases = st._2 }
          if (n == lastCount) {
            val open = ckpt
              .filter(f => !java.util.Arrays.equals(f.head, f.tail)).toDF()
            done = open.select(col("tail")).intersect(open.select(col("head")))
              .isEmpty
          }
          lastCount = n
        }
      }
    }
    graft.core.Counters.add("assembler.rounds", (iter - resumeIter.getOrElse(0)).toLong)
    frags
      .map { f =>
        Assembler.normalizeContig(KmerCodec.decodeBlocks(f.seq),
          KmerCodec.decodeBlocks(KmerCodec.rcBlocks(f.seq)),
          closed = java.util.Arrays.equals(f.head, f.tail), k)
      }
      .distinct()
      .filter(c => c.length >= minContig)
  }

  /** a2: the a1 pipeline in the wide-k regime (k=40 over 64-base docs,
    * reads = sliding windows len 48 step 8). Same closed-form oracle. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a2_assembly_wide" -> ((s, d) => {
      import s.implicits._
      val reads = documents(s, d)
        .select(Genomics.dna64(col("doc_id")).as("g"))
        .select(explode(expr("transform(sequence(1, 17, 8), i -> substring(g, i, 48))")).as("read"))
        .as[String]
      val counts = reads.flatMap(r => graft.core.KmerIter.canonicalBlocks(r, 40))
        .toDF("kb").groupBy("kb").count()
      assemble(counts, 40, minCov = 1, maxIter = 120).toDF("contig")
    })
  )

  def oracles: Map[String, String] = Map(
    "a2_assembly_wide" ->
      """WITH g AS (SELECT translate(md5(CAST(doc_id AS VARCHAR)), '0123456789abcdef', 'ACGTACGTACGTACGT')
        |  || translate(md5(CAST(doc_id AS VARCHAR) || 'x'), '0123456789abcdef', 'ACGTACGTACGTACGT') AS s
        |  FROM documents)
        |SELECT DISTINCT least(s, reverse(translate(s, 'ACGT', 'TGCA'))) AS contig FROM g""".stripMargin
  )
}
