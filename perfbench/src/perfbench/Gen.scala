package perfbench

import java.time.{LocalDate, LocalDateTime}
import java.util.SplittableRandom

/** Seed-driven input generators. Every value is a pure function of the
  * seed and an index, so the same seed gives byte-identical inputs
  * (see `SelfTest`) and the model checks can recompute any input.
  */
object Gen {
  /** One 64-bit stream per (seed, stream, index), via SplitMix64 finalisers. */
  def rng(seed: Long, stream: Long, index: Long): SplittableRandom = {
    def mix(z0: Long): Long = {
      var z = z0
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    new SplittableRandom(mix(mix(mix(seed) + stream) + index))
  }

  def round(x: Double, digits: Int): Double = {
    val f = math.pow(10, digits)
    math.round(x * f) / f
  }
}

/** One Open-Meteo-shaped columnar payload: parallel arrays per metric. */
final case class Payload(times: IndexedSeq[LocalDateTime],
                         metrics: Seq[String],
                         values: IndexedSeq[IndexedSeq[Option[Double]]]) {
  def json: String = {
    val sb = new StringBuilder
    sb ++= """{"latitude":52.52,"longitude":13.41,"timezone":"GMT","hourly":{"time":["""
    sb ++= times.map(t => "\"" + t.toString.take(16) + "\"").mkString(",")
    sb += ']'
    metrics.indices.foreach { m =>
      sb ++= ",\"" + metrics(m) + "\":["
      sb ++= values(m).map(_.fold("null")(_.toString)).mkString(",")
      sb += ']'
    }
    sb ++= "}}"
    sb.result()
  }
}

/** One simulated day of the medallion pipeline: the air-quality and the
  * weather payload fetched that day, both covering that day's hours plus
  * an overlap with earlier hours (a re-fetch, so the overlap carries
  * revised values and Bronze gains duplicate timestamps).
  */
final case class Day(ingestion: LocalDate, aq: Payload, wx: Payload) {
  def rows: Long = aq.times.size + wx.times.size
}

object MedallionGen {
  val Pollutants: Seq[String] = graft.pipelines.AirQuality.Pollutants
  val Weather: Seq[String] = graft.pipelines.AirQuality.WeatherMetrics
  val OverlapHours = 6
  val NullRate = 0.01

  /** Day 0 is a backfill of `backfillDays` days of history; day k >= 1
    * covers one calendar day plus the `OverlapHours` before it.
    */
  def days(seed: Long, backfillDays: Int, count: Int): IndexedSeq[Day] = {
    val start = LocalDate.of(2023, 1, 1).plusDays(java.lang.Math.floorMod(seed, 365L))
    val first = start.plusDays(backfillDays.toLong)
    (0 until count).map { k =>
      val (from, hours, ingestion) =
        if (k == 0) (start.atStartOfDay(), backfillDays * 24, first.minusDays(1))
        else {
          val d = first.plusDays(k - 1L)
          (d.atStartOfDay().minusHours(OverlapHours.toLong), 24 + OverlapHours, d)
        }
      val times = (0 until hours).map(h => from.plusHours(h.toLong))
      Day(ingestion, payload(seed, 1, k, times, Pollutants), payload(seed, 2, k, times, Weather))
    }
  }

  private def payload(seed: Long, stream: Long, day: Int, times: IndexedSeq[LocalDateTime],
                      metrics: Seq[String]): Payload = {
    val r = Gen.rng(seed, stream, day)
    val values = metrics.indices.map { m =>
      times.map { _ =>
        val v = Gen.round(5.0 + 10.0 * m + 40.0 * r.nextDouble(), 1)
        if (r.nextDouble() < NullRate) None else Some(v)
      }
    }
    Payload(times, metrics, values)
  }
}

/** The versioned table's rows and its operation mix. */
final case class VRow(id: Long, k: Int, amount: Double, tag: String)

sealed trait VOp { def kind: String; def write: Boolean; def rows: Long }
object VOp {
  final case class Append(src: IndexedSeq[VRow]) extends VOp {
    def kind = "append"; def write = true; def rows: Long = src.size.toLong
  }
  final case class Upsert(src: IndexedSeq[VRow], dv: Boolean) extends VOp {
    def kind: String = "merge." + mode(dv); def write = true; def rows: Long = src.size.toLong
  }
  /** WHEN MATCHED AND s.amount < 0 DELETE, WHEN MATCHED UPDATE amount,
    * tag, WHEN NOT MATCHED INSERT *.
    */
  final case class Clauses(src: IndexedSeq[VRow], dv: Boolean) extends VOp {
    def kind: String = "mergeClauses." + mode(dv); def write = true; def rows: Long = src.size.toLong
  }
  /** Deletes the ids in [lo, hi] with id % 20 == 2 * cls: a tenth of the base rows there. */
  final case class Delete(lo: Long, hi: Long, cls: Int, dv: Boolean) extends VOp {
    def kind: String = "delete." + mode(dv); def write = true; def rows = 0L
  }
  final case class Update(lo: Long, hi: Long, delta: Double, dv: Boolean) extends VOp {
    def kind: String = "update." + mode(dv); def write = true; def rows = 0L
  }
  final case class ReadCurrent(lo: Long, hi: Long) extends VOp {
    def kind = "read"; def write = false; def rows = 0L
  }
  /** `pick` in [0, 1): the fraction of history to travel back to. */
  final case class ReadAt(pick: Double, k: Int) extends VOp {
    def kind = "read_at"; def write = false; def rows = 0L
  }
  final case class Changes(versions: Int) extends VOp {
    def kind = "changes"; def write = false; def rows = 0L
  }
  case object History extends VOp {
    def kind = "history"; def write = false; def rows = 0L
  }
  def mode(dv: Boolean): String = if (dv) "dv" else "cow"
}

object VtGen {
  val Tags: IndexedSeq[String] = IndexedSeq("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
  val BlockKinds = 13
  /** Range-disjoint directories the base is laid out in. */
  val Dirs = 20
  val AppendRows = 500
  val MergeRows = 500
  val MergeSpan = 800
  val MutateSpan = 500

  def row(seed: Long, stream: Long, id: Long): VRow = {
    val r = Gen.rng(seed, stream, id)
    VRow(id, r.nextInt(10), Gen.round(r.nextDouble() * 1000, 2), Tags(r.nextInt(Tags.size)))
  }

  /** Base row `i` has the even id 2i, so merges can insert odd ids
    * inside the key range they update and stay within the directories
    * that range covers.
    */
  def baseRow(seed: Long, i: Long): VRow = row(seed, 10, 2 * i)

  /** The kinds of one block, interleaved so that any window of a few
    * operations holds reads and writes of several kinds. The order is
    * fixed: a seed-shuffled order made the median latency of a ~15-op
    * run depend on which kinds the seed put early.
    */
  val Order: IndexedSeq[Int] = IndexedSeq(0, 9, 1, 10, 6, 3, 11, 8, 2, 12, 5, 4, 7)

  /** Operation `i` of the mix over a table whose base holds ids
    * [0, baseRows). Each block of `BlockKinds` operations holds one of
    * each kind. Fresh ids come from a range reserved per operation, so
    * they never collide.
    *
    * Which rows an operation touches is fixed by its index (`p`); the
    * seed (`r`) draws every value written. With seeded row choices, how
    * many rows a DV mutation hid decided when the engine rewrote instead
    * and when maintenance folded, so per-seed write_amp ranged 36–70.
    */
  def op(seed: Long, baseRows: Long, i: Int): VOp = {
    val r = Gen.rng(seed, 12, i)
    val p = Gen.rng(0L, 14, i)
    val fresh = 2 * baseRows + i.toLong * AppendRows
    // The DV operations of a block share one base directory (so DV
    // coalescing triggers in every block); each other kind gets a
    // directory of its own.
    val pos = Order(i % BlockKinds)
    val dvDir = (i / BlockKinds * 7) % Dirs
    val dir = if (Seq(2, 4, 6, 8).contains(pos)) dvDir else (dvDir + 1 + i % BlockKinds) % Dirs
    /** An even id where a window of `span` base rows starts, inside
      * `dir` and clear of its edges.
      */
    def lo(span: Int): Long = {
      val per = baseRows / Dirs
      val margin = per / 10
      2 * (dir * per + margin + (p.nextDouble() * (per - 2 * margin - span)).toLong)
    }
    /** `n` distinct slots of [0, MergeSpan). */
    def slots(n: Int): IndexedSeq[Int] = {
      val a = Array.range(0, MergeSpan)
      (0 until n).foreach { j =>
        val x = j + p.nextInt(MergeSpan - j); val t = a(j); a(j) = a(x); a(x) = t
      }
      a.take(n).sorted.toIndexedSeq
    }
    /** MergeRows source rows in one window: updates of existing (even)
      * ids and 100 inserts of new (odd) ids.
      */
    def srcRows(negative: Boolean): IndexedSeq[VRow] = {
      val from = lo(MergeSpan)
      val ids = (slots(MergeRows - 100).map(from + 2L * _) ++ slots(100).map(from + 2L * _ + 1)).sorted
      ids.map { id =>
        val amt = Gen.round(r.nextDouble() * 1000, 2)
        VRow(id, r.nextInt(10), if (negative && p.nextDouble() < 0.2) -amt else amt, Tags(r.nextInt(Tags.size)))
      }
    }
    pos match {
      case 0 => VOp.Append((0 until AppendRows).map(j => row(seed, 13, fresh + j)))
      case 1 => VOp.Upsert(srcRows(negative = false), dv = false)
      case 2 => VOp.Upsert(srcRows(negative = false), dv = true)
      case 3 => VOp.Clauses(srcRows(negative = true), dv = false)
      case 4 => VOp.Clauses(srcRows(negative = true), dv = true)
      case 5 => val l = lo(MutateSpan); VOp.Delete(l, l + 2 * MutateSpan, p.nextInt(10), dv = false)
      case 6 => val l = lo(MutateSpan); VOp.Delete(l, l + 2 * MutateSpan, p.nextInt(10), dv = true)
      case 7 => val l = lo(MutateSpan); VOp.Update(l, l + 2 * MutateSpan, Gen.round(r.nextDouble() * 10, 2), dv = false)
      case 8 => val l = lo(MutateSpan); VOp.Update(l, l + 2 * MutateSpan, Gen.round(r.nextDouble() * 10, 2), dv = true)
      case 9 => val l = lo(2000); VOp.ReadCurrent(l, l + 4000)
      case 10 => VOp.ReadAt(p.nextDouble(), r.nextInt(10))
      case 11 => VOp.Changes(3)
      case _ => VOp.History
    }
  }
}

/** A document corpus with planted near-duplicates within a batch and
  * re-crawls (exact or edited) of documents from earlier batches.
  */
final case class Doc(docId: Long, batch: Int, text: String)

object CorpusGen {
  val BatchSize = 625
  val VocabSize = 3000

  def vocab(seed: Long): IndexedSeq[String] = {
    val r = Gen.rng(seed, 20, 0)
    (0 until VocabSize).map(_ => (0 until 3 + r.nextInt(6)).map(_ => ('a' + r.nextInt(26)).toChar).mkString)
  }

  def docs(seed: Long, batches: Int): IndexedSeq[Doc] = {
    val v = vocab(seed)
    val out = scala.collection.mutable.ArrayBuffer[Doc]()
    (0 until batches).foreach { b =>
      val r = Gen.rng(seed, 21, b)
      val batchStart = out.size
      def edit(words: Array[String]): Array[String] = {
        val w = words.clone()
        (0 until 2).foreach(_ => w(r.nextInt(w.length)) = v(r.nextInt(v.size)))
        w
      }
      (0 until BatchSize).foreach { j =>
        val u = r.nextDouble()
        val words: Array[String] =
          if (u < 0.10 && j > 0) edit(out(batchStart + r.nextInt(j)).text.split(' '))
          else if (u < 0.18 && batchStart > 0) {
            val old = out(r.nextInt(batchStart)).text.split(' ')
            if (r.nextBoolean()) old else edit(old)
          } else Array.fill(30 + r.nextInt(31))(v(r.nextInt(v.size)))
        out += Doc(out.size.toLong, b, words.mkString(" "))
      }
    }
    out.toIndexedSeq
  }
}
