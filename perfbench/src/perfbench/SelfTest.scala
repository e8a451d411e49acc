package perfbench

import java.security.MessageDigest

/** Unit tests for the benchmark's own logic (no Spark session):
  * `python3 perfbench/run.py --selftest`. Exits non-zero on failure.
  */
object SelfTest {
  private var failures = 0
  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => println(s"  $name threw $e"); false }
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }
  private def sha(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def medallionBytes(seed: Long) =
    MedallionGen.days(seed, 30, 6).map(d => d.aq.json + d.wx.json).mkString("\n")
  private def vtBytes(seed: Long) =
    ((0L until 2000L).map(VtGen.baseRow(seed, _)) ++ (0 until 40).map(VtGen.op(seed, 600000L, _))).mkString("\n")
  private def corpusBytes(seed: Long) = CorpusGen.docs(seed, 3).mkString("\n")

  def main(args: Array[String]): Unit = {
    for ((name, gen) <- Seq[(String, Long => String)](
        "medallion" -> medallionBytes, "vt_mixed" -> vtBytes, "corpus" -> corpusBytes)) {
      check(s"$name generator: same seed, byte-identical inputs")(sha(gen(7L)) == sha(gen(7L)))
      check(s"$name generator: different seeds, different inputs")(sha(gen(7L)) != sha(gen(8L)))
    }
    check("medallion payloads overlap earlier hours") {
      val ds = MedallionGen.days(3L, 30, 3)
      ds(2).aq.times.take(MedallionGen.OverlapHours) == ds(1).aq.times.takeRight(MedallionGen.OverlapHours)
    }
    check("medallion null rate is about 1%") {
      val vs = MedallionGen.days(3L, 30, 1).head.aq.values.flatten
      val r = vs.count(_.isEmpty).toDouble / vs.size
      r > 0.003 && r < 0.03
    }
    check("vt_mixed: each block holds every operation kind once") {
      (0 until 3).forall { b =>
        (0 until VtGen.BlockKinds).map(i => VtGen.op(5L, 600000L, b * VtGen.BlockKinds + i).kind)
          .distinct.size == VtGen.BlockKinds
      }
    }
    check("corpus plants within-batch and cross-batch duplicates") {
      val docs = CorpusGen.docs(5L, 3)
      val firstSeen = docs.groupBy(_.text).values.filter(_.size > 1).map(_.map(_.batch))
      firstSeen.exists(bs => bs.distinct.size > 1)
    }

    // Percentile rule: the highest percentile with >= 10 samples beyond it.
    val xs = (1 to 20).map(_.toDouble)
    check("tail of 20 samples is p50 (value 10)")(Stats.tail(xs) == Some((50.0, 10.0)))
    check("tail of 100 samples is p90")(Stats.tail((1 to 100).map(_.toDouble)) == Some((90.0, 90.0)))
    check("tail of 11 samples is the lowest sample")(Stats.tail((1 to 11).map(_.toDouble)).map(_._2) == Some(1.0))
    check("no tail with 10 samples or fewer")(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    check("tail ignores input order")(Stats.tail(xs.reverse) == Stats.tail(xs))
    check("median of even and odd counts") {
      Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 && Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5
    }

    // Self time: duration minus the union of the direct children's intervals.
    val spans = Seq(
      (0, -1, 0L, 100L), // root
      (1, 0, 10L, 40L), // child
      (2, 0, 30L, 60L), // child overlapping the first
      (3, 1, 15L, 20L), // grandchild: counts against 1, not 0
      (4, 0, 90L, 130L)) // child running past its parent's end
    val self = Stats.selfTimes(spans)
    check("self time of a root with overlapping children")(self(0) == 100 - 50 - 10)
    check("self time of a child with a grandchild")(self(1) == 30 - 5)
    check("self time of a leaf is its duration")(self(3) == 5 && self(2) == 30)
    check("union of intervals clips to the window")(Stats.unionLength(Seq((5L, 15L), (10L, 30L)), 0L, 20L) == 15)

    // write_amp: bytes written over the compact-Parquet size of the rows handed in.
    check("balanced median of one kind is the plain median") {
      Stats.balancedMedian(Seq(3.0, 1.0, 2.0).map(("a", _))) == 2.0 &&
        Stats.balancedMedian(Seq(4.0, 1.0, 2.0, 3.0).map(("a", _))) == 2.5
    }
    check("balanced median weighs each kind the same") {
      // a: 1, 2, 3 (weight 1/3 each), b: 10 (weight 1), c: 20 (weight 1):
      // half the weight (1.5) is reached inside b.
      Stats.balancedMedian(Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 10.0), ("c", 20.0))) == 10.0
    }
    check("mix throughput: rows per kind over median ms per kind") {
      // w: 100 rows in 200 ms (median of 100, 200, 900); r: 0 rows in 50 ms.
      val xs = Seq(("w", 100L, 100.0), ("w", 100L, 900.0), ("w", 100L, 200.0), ("r", 0L, 50.0))
      math.abs(Stats.mixRowsPerS(xs) - 400.0) < 1e-9
    }
    check("write_amp arithmetic")(Stats.writeAmp(3000L, Stats.sizedBytes(10L, 500L, 5L)) == 3.0)
    check("write_amp scales with bytes per input row")(
      Stats.writeAmp(1000L, Stats.sizedBytes(100L, 2000L, 100L)) == 0.5)
    check("write_amp refuses an empty input")(scala.util.Try(Stats.writeAmp(1L, 0.0)).isFailure)
    check("input sizing refuses an empty sample")(scala.util.Try(Stats.sizedBytes(1L, 0L, 1L)).isFailure)
    check("mean of kind medians weighs each kind once") {
      // a: median 2 of 1, 2, 30; b: median of 10, 20 is 15; mean (2 + 15) / 2.
      Stats.meanOfKindMedians(Seq(("a", 1.0), ("a", 30.0), ("a", 2.0), ("b", 10.0), ("b", 20.0))) == 8.5 &&
        Stats.meanOfKindMedians(Seq(3.0, 1.0, 2.0).map(("a", _))) == 2.0
    }

    // A mix of two workloads: each block is a's block, then b's.
    final class Stub(kinds: Seq[String]) extends Workload {
      val setupReps = 1
      def setup(rep: Int): Unit = ()
      def warmup(): Unit = ()
      override def blockSize: Int = kinds.size
      def op(i: Int): Op = Op(s"${kinds(i % kinds.size)}${i / kinds.size}", true, 0L, () => ())
      def check(): Seq[String] = Nil
      def tableDirs: Seq[String] = Nil
      def writeCompact(dst: String): Unit = ()
    }
    check("mixed workload interleaves whole blocks of both parts") {
      val m = new Mixed(new Stub(Seq("x", "y", "z")), new Stub(Seq("d")))
      m.blockSize == 4 && (0 until 8).map(m.op(_).kind) == Seq("x0", "y0", "z0", "d0", "x1", "y1", "z1", "d1")
    }

    // Module attribution for jobs and driver samples.
    check("module of a pipelines class")(Tracer.moduleOfClass("graft.pipelines.BronzeSilverPipeline") == "pipelines")
    check("module of an operator object")(Tracer.moduleOfClass("graft.operators.Quality$") == "operators.Quality")
    check("module of a call site") {
      Tracer.moduleOfCallSite("org.apache.spark.sql.Dataset.collect(Dataset.scala:1)\n" +
        "graft.sources.TableManager.append(TableManager.scala:112)\n" +
        "graft.pipelines.BronzeSilverPipeline.run(Pipelines.scala:50)") == "sources.TableManager"
    }
    check("per-layer list fits the 128-metric cap and has unique names") {
      Metrics.PerLayer.size <= 128 && Metrics.PerLayer.map(_.name).distinct.size == Metrics.PerLayer.size
    }

    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
