package graft.dedup

import graft.SparkTest
import graft.core.DedupConfig
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit gates for the single-exchange skew-aware pair generation
  * ([[CandidatePairs.pairsPacked]]) including the bounded-memory
  * overflow path that bench-scale corpora never reach. */
class CandidatePairsSpec extends AnyFunSuite with SparkTest {

  private val cfg = DedupConfig.default

  private def packed(rows: Seq[(Long, Long)], parts: Int) = {
    import spark.implicits._
    spark.createDataset(rows).repartition(parts).toDF("bkey", "id")
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** connectivity of one bucket's emitted pairs via union-find */
  private def connected(ids: Seq[Long], pairs: Set[(Long, Long)]): Boolean = {
    val idx = ids.zipWithIndex.toMap
    val uf = new BruteForceOracle.UnionFind(ids.length)
    pairs.foreach { case (a, b) =>
      (idx.get(a), idx.get(b)) match {
        case (Some(i), Some(j)) => uf.union(i, j)
        case _ =>
      }
    }
    ids.indices.map(uf.find).distinct.size == 1
  }

  test("singleton buckets emit nothing; small buckets emit all-pairs") {
    val rows = Seq((4L, 10L), (8L, 1L), (8L, 2L), (8L, 3L))
    val out = pairSet(CandidatePairs.pairsPacked(packed(rows, 3), cfg))
    assert(out === Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("hot bucket: salted expansion stays connected and bounds degree") {
    val ids = (0L until 1000L).map(_ * 7L + 1L)
    val rows = ids.map(id => (12L, id))
    val df = CandidatePairs.pairsPacked(packed(rows, 5), cfg)
    val out = pairSet(df)
    assert(connected(ids, out), "salted hot bucket must stay connected via chains")
    val degree = out.toSeq.flatMap(p => Seq(p._1, p._2)).groupBy(identity).map(_._2.size)
    // salt groups are ~cap-sized and expand all-pairs below the cap, so the
    // per-vertex bound is O(cap) (+2 for chain links)
    assert(degree.max <= cfg.maxBucketSize + 4,
      s"degree ${degree.max} exceeds the salted-bucket bound")
  }

  test("pair set is identical at any parallelism (exact salting is data-pure)") {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 5000).map { _ =>
      ((rnd.nextInt(40) + 1).toLong, rnd.nextInt(2000).toLong)
    }
    val a = pairSet(CandidatePairs.pairsPacked(packed(rows, 2), cfg))
    val b = pairSet(CandidatePairs.pairsPacked(packed(rows, 13), cfg))
    assert(a === b)
  }

  test("overflow path (run > runBufferCap): bounded memory, still connected, deterministic") {
    // the run buffer is maxBucketSize * MaxSalts = 1024 ids
    val small = cfg.copy(maxBucketSize = 1)
    val ids = (0L until 1500L).map(_ * 3L + 2L)
    val rows = ids.map(id => (20L, id)) ++ Seq((24L, 5L), (24L, 6L))
    val o1 = CandidatePairs.pairsPacked(packed(rows, 3), small)
    val o2 = CandidatePairs.pairsPacked(packed(rows, 11), small)
    val ov0 = CandidatePairs.overflowRuns(spark)
    val s1 = pairSet(o1)
    assert(CandidatePairs.overflowRuns(spark) > ov0, "the 1500-id run must take the overflow drain")
    assert(s1 === pairSet(o2), "overflow expansion must be partitioning-independent")
    assert(connected(ids, s1), "overflow bucket must stay connected")
    assert(s1.contains((5L, 6L)), "cold bucket behind the overflow run must still pair")
  }

  test("fps_hits counts winnow-lane co-emissions only") {
    // lane index 2 (low bits) = winnow lane (bit 4); lane index 0 = bands
    val rows = Seq((2L, 1L), (2L, 2L), (8L, 1L), (8L, 2L), (16L + 2L, 1L), (16L + 2L, 2L))
    val df = CandidatePairs.pairsPacked(packed(rows, 2), cfg)
    val r = df.where(col("a") === 1L && col("b") === 2L)
      .select("lane", "fps_hits").collect()(0)
    assert((r.getInt(0) & DedupPipeline.LaneFps) != 0)
    assert((r.getInt(0) & DedupPipeline.LaneBands) != 0)
    assert(r.getLong(1) === 2L, "two winnow-lane emissions (bkeys 2 and 18)")
  }
}
