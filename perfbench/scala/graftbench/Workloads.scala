package graftbench

import graft.core.Rng
import graft.corpus.{Clip, CorpusGen}
import graft.dedup.BruteForceOracle
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{MessageType, MessageTypeParser}
import java.nio.file.{Paths, Files => JFiles}
import scala.collection.parallel.CollectionConverters._
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** The benchmark's seeded inputs, built only from the public generator API
  * (`CorpusGen.plan` / `clipSpec` / `renderClip`). The program under test
  * never sees this code: it reads the parquet that [[Generate]] leaves behind.
  *
  *  - `planted`: the stock plan (Zipf-sized clusters plus two giant skew
  *    clusters), the shape the pipeline is graded on, with the giants'
  *    transcript length fixed (see [[plantedPlan]]);
  *  - `distinct`: ~98% singletons (30% of them hard negatives) and ~2% of the
  *    clips in planted pairs, so verification keeps few pairs and CC takes the
  *    driver-local path.
  */
object Workloads {

  /** @param clips corpus size of one run */
  final case class Spec(name: String, clips: Int)

  val all: Seq[Spec] = Seq(Spec("planted", 6000), Spec("distinct", 6000))

  def byName(name: String): Spec = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name' (one of ${all.map(_.name).mkString(", ")})"))

  /** Share of `distinct` clips that belong to a planted pair. */
  final val DistinctPairShare = 0.02

  /** Tokens in the canonical transcript of each `planted` giant cluster. */
  final val GiantTokens = 100

  def plan(workload: String, n: Int, seed: Long): CorpusGen.Plan =
    if (workload == "distinct") distinctPlan(n, seed) else plantedPlan(n, seed)

  /** The stock plan, with its first two clusters (the forced giants) moved
    * to fresh cluster ids whose canonical transcripts have [[GiantTokens]]
    * tokens. The stock giants draw 40-159 tokens from the seed; their pairs
    * are most of the verify work, so with them ten seeds spread task CPU
    * over 4.2-5.5 s. Cluster sizes and every other clip stay as they are. */
  def plantedPlan(n: Int, seed: Long): CorpusGen.Plan = {
    val stock = CorpusGen.plan(n, seed)
    var next = stock.numClusters
    val moved = (0 to 1).map { giant =>
      while (canonicalTokens(seed, next) != GiantTokens) next += 1
      next += 1
      giant -> (next - 1)
    }.toMap
    CorpusGen.Plan(stock.clusterOf.map(c => moved.getOrElse(c, c)), stock.memberIdxOf, next)
  }

  /** Tokens in cluster `c`'s canonical transcript: the transcript of the
    * first member of a two-clip cluster `c`. */
  def canonicalTokens(seed: Long, c: Int): Int =
    CorpusGen.clipSpec(seed, 0L, CorpusGen.Plan(Array(c, c), Array(0, 1), c + 1)).transcript.split(' ').length

  /** Singletons everywhere except for two-clip clusters drawn at
    * [[DistinctPairShare]] of the clips. */
  def distinctPlan(n: Int, seed: Long): CorpusGen.Plan = {
    val rng = Rng(seed, 9100L)
    val clusterOf = new Array[Int](n)
    val memberIdxOf = new Array[Int](n)
    var i = 0
    var c = 0
    while (i < n) {
      val size = if (i + 1 < n && rng.nextDouble() < DistinctPairShare / 2) 2 else 1
      var m = 0
      while (m < size) { clusterOf(i) = c; memberIdxOf(i) = m; m += 1; i += 1 }
      c += 1
    }
    CorpusGen.Plan(clusterOf, memberIdxOf, c)
  }

  def clip(seed: Long, pl: CorpusGen.Plan, i: Int): Clip =
    CorpusGen.renderClip(CorpusGen.clipSpec(seed, i.toLong, pl))

  /** (clip_id, transcript) without rendering audio: the oracle's input. */
  def transcripts(workload: String, n: Int, seed: Long): Array[(String, String)] = {
    val pl = plan(workload, n, seed)
    Array.tabulate(n)(i => (CorpusGen.clipId(i.toLong), CorpusGen.clipSpec(seed, i.toLong, pl).transcript))
  }

  /** Order-independent checksum of the rendered corpus (every column). */
  def corpusChecksum(workload: String, n: Int, seed: Long): Long = {
    val pl = plan(workload, n, seed)
    (0 until n).map(i => clipCrc(clip(seed, pl, i))).sum
  }

  def clipCrc(c: Clip): Long = {
    val crc = new java.util.zip.CRC32
    Seq(c.clip_id, c.sr_hz.toString, c.dur_ms.toString, c.codec, c.transcript)
      .foreach(s => crc.update(s.getBytes("UTF-8")))
    crc.update(c.bytes)
    crc.getValue
  }
}

/** Load generator: renders one workload's corpus and writes it as parquet,
  * [[Files]] files of contiguous clip ranges, with the columns and
  * nullability Spark gives a `Dataset[Clip]`. Meanwhile it computes the
  * brute-force oracle's labels for the oracle draw (see
  * [[Main.oracleCheck]]) and writes them one per line. It runs in a JVM of
  * its own and without Spark, so none of its start-up is charged to the
  * program.
  *
  * Usage: Generate --workload <name> --seed <n> --out <dir> --oracle <file> */
object Generate {
  /** Output files, written in parallel; Spark reads one split per file. */
  final val Files = 8

  val schema: MessageType = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  optional binary clip_id (STRING);
      |  optional binary bytes;
      |  required int32 sr_hz;
      |  required int32 dur_ms;
      |  optional binary codec (STRING);
      |  optional binary transcript (STRING);
      |}""".stripMargin)

  def main(argv: Array[String]): Unit = {
    val kv = Main.options(argv)
    def req(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val spec = Workloads.byName(req("workload"))
    val seed = req("seed").toLong
    val draw = Workloads.transcripts(spec.name, Main.OracleClips, seed).map(_._2)
    val oracle = Future(BruteForceOracle.clusters(draw, Main.cfg))(ExecutionContext.global)
    write(spec.name, spec.clips, seed, req("out"))
    JFiles.write(Paths.get(req("oracle")), Await.result(oracle, Duration.Inf).mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  def write(workload: String, n: Int, seed: Long, dir: String): Unit = {
    val pl = Workloads.plan(workload, n, seed)
    val conf = new Configuration()
    val rows = new SimpleGroupFactory(schema)
    (0 until Files).par.foreach { f =>
      val w = ExampleParquetWriter.builder(new HPath(f"$dir/part-$f%05d.snappy.parquet"))
        .withConf(conf).withType(schema).withCompressionCodec(CompressionCodecName.SNAPPY).build()
      try (f.toLong * n / Files until (f + 1L) * n / Files).foreach { i =>
        val c = Workloads.clip(seed, pl, i.toInt)
        w.write(rows.newGroup().append("clip_id", c.clip_id)
          .append("bytes", Binary.fromConstantByteArray(c.bytes))
          .append("sr_hz", c.sr_hz).append("dur_ms", c.dur_ms)
          .append("codec", c.codec).append("transcript", c.transcript))
      } finally w.close()
    }
  }
}
