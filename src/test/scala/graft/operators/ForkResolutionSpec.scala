package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Fork resolution (fixed-width four-cell aggregate + typed pick) against a
  * brute-force reference: the per-node `sort_array(collect_list(struct))`
  * group form, the node-degree windows of `popBubbles = false`, and the
  * per-arm `filter`/`explode` of `-scramble`. Random edge tables put count
  * ties inside nodes and let edges fork on both sides, in both key
  * regimes (packed Long at k=31, strings at k=40). */
class ForkResolutionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Sorted group of a node's edges: (count desc, kmer asc). */
  private def groups(df: DataFrame, key: String): DataFrame = df
    .groupBy(col(key).as("gk"))
    .agg(sort_array(collect_list(struct((-col("count")).as("nc"),
      col("kmer"), col("count"), col("prefix"), col("suffix")))).as("es"))

  private def refResolve(edges: DataFrame, popBubbles: Boolean, minError: Int): DataFrame = {
    def side(df: DataFrame, key: String): DataFrame = {
      val grouped = groups(df, key)
      val winner = element_at(col("es"), 1)
      val kept =
        if (minError <= 0) grouped
        else grouped.filter(!exists(
          slice(col("es"), lit(2), greatest(size(col("es")) - 1, lit(0))),
          x => x.getField("count") > minError ||
            winner.getField("count") < x.getField("count") * 2))
      kept.select(winner.getField("kmer").as("kmer"),
        winner.getField("count").as("count"),
        winner.getField("prefix").as("prefix"),
        winner.getField("suffix").as("suffix"))
    }
    val resolved =
      if (popBubbles) side(side(edges, "prefix"), "suffix")
      else edges
        .withColumn("n_out", count(lit(1)).over(Window.partitionBy("prefix")))
        .withColumn("n_in", count(lit(1)).over(Window.partitionBy("suffix")))
        .filter(col("n_out") === 1 && col("n_in") === 1)
    resolved.select("kmer", "count", "prefix", "suffix")
  }

  private def refUnitig(edges: DataFrame, minError: Int): (DataFrame, DataFrame) = {
    def side(df: DataFrame, key: String): (DataFrame, DataFrame) = {
      val grouped = groups(df, key)
      val winner = element_at(col("es"), 1)
      val surv = grouped.withColumn("sv", filter(col("es"),
        (x, i) => (i === 0) || !(x.getField("count") <= minError &&
          winner.getField("count") >= x.getField("count") * 2)))
      val kept = surv.select(explode(col("sv")).as("e"))
        .select(col("e.kmer").as("kmer"), col("e.count").as("count"),
          col("e.prefix").as("prefix"), col("e.suffix").as("suffix"))
      (kept, surv.filter(size(col("sv")) >= 2).select(col("gk")))
    }
    val (e1, b1) = side(edges, "prefix")
    val (e2, b2) = side(e1, "suffix")
    (e2, b1.union(b2).distinct())
  }

  /** Random distinct k-mers over a pool of (k-1)-mer nodes: each pool node
    * gets 1-4 out-edges, and each out-edge's suffix node gets 0-3 extra
    * in-edges, so forks meet on both sides. Counts come from a small set
    * (plenty of ties, and values on both sides of the minError = 2 / 8
    * bars and of the 2x rule). Returns (kmer, count) as strings. */
  private def randomEdges(k: Int, seed: Int): Seq[(String, Long)] = {
    val r = new scala.util.Random(seed)
    def dna(n: Int) = Array.fill(n)("ACGT"(r.nextInt(4))).mkString
    val cov = Array(1L, 1L, 2L, 3L, 4L, 4L, 5L, 8L, 9L, 16L)
    val kmers = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    (0 until 40).foreach { _ =>
      val node = dna(k - 1)
      r.shuffle("ACGT".toSeq).take(1 + r.nextInt(4)).foreach { b =>
        val km = node + b
        kmers.getOrElseUpdate(km, cov(r.nextInt(cov.length)))
        r.shuffle("ACGT".toSeq).take(r.nextInt(4)).foreach { a =>
          kmers.getOrElseUpdate(a.toString + km.substring(1), cov(r.nextInt(cov.length)))
        }
      }
    }
    kmers.toSeq
  }

  private def pack(s: String): Long =
    s.foldLeft(0L)((a, c) => (a << 2) | "ACGT".indexOf(c).toLong)

  private def longEdges(k: Int, seed: Int): DataFrame = {
    import spark.implicits._
    val mask = (1L << (2 * (k - 1))) - 1
    randomEdges(k, seed).map { case (km, c) => val kv = pack(km); (kv, c, kv >> 2, kv & mask) }
      .toDF("kmer", "count", "prefix", "suffix")
  }

  private def wideEdges(k: Int, seed: Int): DataFrame = {
    import spark.implicits._
    randomEdges(k, seed).map { case (km, c) => (km, km.substring(0, k - 1), km.substring(1), c) }
      .toDF("kmer", "prefix", "suffix", "count")
  }

  private def rows(df: DataFrame): Set[Row] =
    df.select("kmer", "count", "prefix", "suffix").collect().toSet

  private def checkRegime(name: String, edgesOf: Int => DataFrame,
                          side: Assembler.ForkSide): Unit =
    for (seed <- 1 to 3) {
      val edges = edgesOf(seed).localCheckpoint()
      for (minError <- Seq(0, 2, 8)) {
        val got = rows(Assembler.resolveForks(edges, side, popBubbles = true, minError))
        val want = rows(refResolve(edges, popBubbles = true, minError))
        assert(got == want, s"$name seed=$seed minError=$minError")
        val (ue, ub) = Assembler.resolveForksUnitig(edges, side, minError)
        val (re, rb) = refUnitig(edges, minError)
        assert(rows(ue) == rows(re), s"$name unitig edges seed=$seed minError=$minError")
        assert(ub.collect().toSet == rb.collect().toSet,
          s"$name unitig barriers seed=$seed minError=$minError")
      }
      val got = rows(Assembler.resolveForks(edges, side, popBubbles = false, 0))
      assert(got == rows(refResolve(edges, popBubbles = false, 0)),
        s"$name popBubbles=false seed=$seed")
      // the fixture must actually exercise the picks
      assert(rows(edges).size > got.size)
    }

  test("fixed-width fork resolution == sorted-group reference (packed Long, k=31)") {
    checkRegime("long", longEdges(31, _), Assembler.longSide(31))
  }

  test("fixed-width fork resolution == sorted-group reference (wide strings, k=40)") {
    checkRegime("wide", wideEdges(40, _), AssemblerWide.wideSide(40))
  }
}
