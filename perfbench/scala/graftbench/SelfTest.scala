package graftbench

import graft.corpus.{Clip, CorpusGen}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Checks of the benchmark's own code; no Spark. Run by perfbench/selftest.py.
  * Exits 1 on the first failed check. */
object SelfTest {

  private var checks = 0

  private def expect(ok: Boolean, what: String): Unit = {
    checks += 1
    if (!ok) {
      System.err.println(s"FAIL: $what")
      sys.exit(1)
    }
  }

  /** Corpus checksum of what [[Generate.write]] leaves on disk, read back
    * with parquet's own reader. */
  def writtenChecksum(workload: String, n: Int, seed: Long): Long = {
    val dir = Files.createTempDirectory(Paths.get(sys.props("java.io.tmpdir")), "graftbench-gen")
    try {
      Generate.write(workload, n, seed, dir.toString)
      val parts = Files.list(dir).iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
      expect(parts.length == Generate.Files, "Generate writes one file per part")
      parts.map { p =>
        val r = ParquetReader.builder(new GroupReadSupport, new HPath(p.toString)).build()
        try Iterator.continually(r.read()).takeWhile(_ != null).map { g =>
          Workloads.clipCrc(Clip(g.getString("clip_id", 0), g.getBinary("bytes", 0).getBytes,
            g.getInteger("sr_hz", 0), g.getInteger("dur_ms", 0), g.getString("codec", 0),
            g.getString("transcript", 0)))
        }.sum
        finally r.close()
      }.sum
    } finally Main.deleteTree(dir)
  }

  def main(args: Array[String]): Unit = {
    val n = 600
    for (w <- Workloads.all.map(_.name)) {
      val a = Workloads.corpusChecksum(w, n, 11L)
      expect(a == Workloads.corpusChecksum(w, n, 11L), s"$w: same seed gives the same corpus")
      expect(a != Workloads.corpusChecksum(w, n, 12L), s"$w: another seed gives another corpus")
    }
    expect(writtenChecksum("planted", n, 11L) == Workloads.corpusChecksum("planted", n, 11L),
      "the parquet files Generate writes hold the rendered corpus")
    val dt = Workloads.transcripts("distinct", n, 11L)
    val dpl = Workloads.plan("distinct", n, 11L)
    expect(dt.indices.forall(i => dt(i) == { val c = Workloads.clip(11L, dpl, i); (c.clip_id, c.transcript) }),
      "the oracle draw holds the clip ids and transcripts the parquet corpus gets")

    // planted: the stock cluster sizes, the giants' transcripts at GiantTokens
    val stock = CorpusGen.plan(6000, 3L)
    val pp = Workloads.plantedPlan(6000, 3L)
    def sizesOf(p: CorpusGen.Plan) = p.clusterOf.groupBy(identity).values.map(_.length).toSeq.sorted
    expect(sizesOf(pp) == sizesOf(stock) && pp.memberIdxOf.sameElements(stock.memberIdxOf),
      "planted keeps the stock cluster sizes")
    val giants = pp.clusterOf.indices.filter(i => stock.clusterOf(i) <= 1)
    expect(giants.forall(i => pp.clusterOf(i) >= stock.numClusters) &&
      giants.forall(i => Workloads.canonicalTokens(3L, pp.clusterOf(i)) == Workloads.GiantTokens),
      "planted giants get fresh ids with GiantTokens-token transcripts")
    expect(giants.filter(i => pp.memberIdxOf(i) == 0)
      .forall(i => CorpusGen.clipSpec(3L, i.toLong, pp).transcript.split(' ').length == Workloads.GiantTokens),
      "a giant's first member carries its canonical transcript")
    expect(pp.clusterOf.indices.filter(i => stock.clusterOf(i) > 1).forall(i => pp.clusterOf(i) == stock.clusterOf(i)),
      "planted leaves every other clip's cluster as it is")

    // distinct: ~2% of clips in planted pairs, no larger clusters
    val dp = Workloads.distinctPlan(20000, 3L)
    val sizes = dp.clusterOf.groupBy(identity).values.map(_.length)
    expect(sizes.forall(_ <= 2), "distinct plants pairs only")
    val paired = sizes.filter(_ == 2).sum.toDouble / 20000
    expect(paired > 0.015 && paired < 0.025, f"distinct paired share $paired%.4f near 0.02")
    val kinds = (0 until 5000).map(i => CorpusGen.clipSpec(3L, i.toLong, dp).perturbation)
    val hard = kinds.count(_ == "hardneg").toDouble / kinds.count(k => k == "hardneg" || k == "unique")
    expect(hard > 0.25 && hard < 0.35, f"distinct hard-negative share of singletons $hard%.3f near 0.3")

    // span self time: duration minus the union of the direct children
    def sp(id: Int, parent: Int, a: Long, b: Long) = Span(id, parent, s"s$id", a, b)
    val spans = Seq(sp(0, -1, 0, 100), sp(1, 0, 10, 30), sp(2, 0, 20, 40), sp(3, 0, 90, 120),
      sp(4, 1, 12, 28))
    expect(math.abs(Tracer.selfSeconds(spans, 0) - 60e-9) < 1e-15, "root self time 100 - [10,40] - [90,100]")
    expect(math.abs(Tracer.selfSeconds(spans, 1) - 4e-9) < 1e-15, "grandchildren only count for their parent")
    expect(math.abs(Tracer.selfSeconds(spans, 4) - 16e-9) < 1e-15, "leaf self time is its duration")
    val tr = new Tracer
    tr.span("run") { tr.span("a")(()); tr.span("b")(()) }
    val ts = tr.spans
    expect(ts.map(_.name) == Seq("run", "a", "b") && ts.tail.forall(_.parent == 0),
      "tracer nests spans by call order")
    expect(math.abs(Tracer.selfSeconds(ts, 0) + ts.tail.map(_.seconds).sum - ts.head.seconds) < 1e-9,
      "self time plus sequential children is the parent's duration")

    expect(Main.median(Seq(3.0, 1.0, 2.0)) == 2.0 && Main.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5, "median")
    println(s"SELFTEST OK ($checks checks)")
  }
}
