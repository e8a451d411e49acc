package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Greatest, Least, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Filter => CFilter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.DataSkipping
import graft.sources.VersionedTable.ColStat

/** Model check of the data-skipping core on the driver: random
  * directories of rows, stats derived with Spark's own min/max ordering
  * (`Least`/`Greatest`, what the `min`/`max` aggregates of the stats
  * job fold with), and random conjunctions of strict and non-strict
  * ranges, IN lists with nulls, and IS [NOT] NULL. Brute force is the
  * condition itself, evaluated per row by Catalyst's interpreter; the
  * model check starts no Spark job. A second test pins one case the
  * model check found end to end.
  */
class DataSkippingSpec extends SparkSuite {

  private val schema = StructType(Seq(StructField("l", LongType),
    StructField("d", DoubleType), StructField("s", StringType)))

  // "�" sorts below the supplementary-plane "😀" in UTF-8
  // byte order (the stats' order) but above it in UTF-16 order
  private val pools: Map[String, IndexedSeq[Any]] = Map(
    "l" -> IndexedSeq(-3L, -1L, 0L, 1L, 2L, 5L, Long.MaxValue),
    "d" -> IndexedSeq(-2.5, -0.0, 0.0, 1.5, 3.0, Double.NaN),
    "s" -> IndexedSeq("", "a", "ab", "b", "é", "�", "😀", "z"))
  private val cols = Seq("l", "d", "s")
  private val kinds = Map("l" -> "l", "d" -> "d", "s" -> "s")

  private sealed trait Atom
  private case class Cmp(c: String, op: String, v: Any) extends Atom
  private case class InList(c: String, vs: Seq[Any]) extends Atom
  private case class NullTest(c: String, isNull: Boolean) extends Atom

  private def internal(v: Any): Any = v match {
    case s: String => UTF8String.fromString(s)
    case other => other
  }

  /** ColStat of one column over a directory's rows, as the stats job
    * records it: min/max over the non-null values, null count.
    */
  private def statOf(c: String, vals: Seq[Any]): ColStat = {
    val present = vals.filter(_ != null)
    val dt = schema(c).dataType
    def fold(f: Seq[Literal] => Any): Any =
      if (present.isEmpty) null
      else f(present.map(v => Literal.create(v, dt))) match {
        case u: UTF8String => u.toString
        case other => other
      }
    ColStat(kinds(c), fold(ls => Least(ls).eval()), fold(ls => Greatest(ls).eval()),
      vals.count(_ == null).toLong)
  }

  private def column(a: Atom): Column = a match {
    case Cmp(c, "=", v) => col(c) === lit(v)
    case Cmp(c, "<", v) => col(c) < lit(v)
    case Cmp(c, "<=", v) => col(c) <= lit(v)
    case Cmp(c, ">", v) => col(c) > lit(v)
    case Cmp(c, ">=", v) => col(c) >= lit(v)
    case InList(c, vs) => col(c).isin(vs: _*)
    case NullTest(c, true) => col(c).isNull
    case NullTest(c, false) => col(c).isNotNull
  }

  private def filter(a: Atom): sources.Filter = a match {
    case Cmp(c, "=", v) => sources.EqualTo(c, v)
    case Cmp(c, "<", v) => sources.LessThan(c, v)
    case Cmp(c, "<=", v) => sources.LessThanOrEqual(c, v)
    case Cmp(c, ">", v) => sources.GreaterThan(c, v)
    case Cmp(c, ">=", v) => sources.GreaterThanOrEqual(c, v)
    case InList(c, vs) => sources.In(c, vs.toArray)
    case NullTest(c, true) => sources.IsNull(c)
    case NullTest(c, false) => sources.IsNotNull(c)
  }

  /** The tuple APIs: `pruneActiveAll`'s ranges and null-ness columns,
    * `pruneActiveIn` per IN list (conjunctive, so one evaluation).
    */
  private def tuples(atoms: Seq[Atom]): Seq[DataSkipping.Pred] = {
    val ranges = atoms.collect {
      case Cmp(c, "=", v) => (c, Some(v), Some(v))
      case Cmp(c, "<" | "<=", v) => (c, None, Some(v))
      case Cmp(c, _, v) => (c, Some(v), None)
    }
    DataSkipping.fromTuples(ranges,
      atoms.collect { case NullTest(c, false) => c },
      atoms.collect { case NullTest(c, true) => c }) ++
      atoms.collect { case InList(c, vs) => DataSkipping.fromValues(c, vs) }
  }

  test("one core: Catalyst, v1 Filter and tuple front ends keep the same superset of matching directories") {
    val r = new scala.util.Random(20261019)
    def pick[A](xs: IndexedSeq[A]): A = xs(r.nextInt(xs.length))
    val probe = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
    var pruned, inTighter = 0
    val (_, jobs) = countingJobs {
      for (trial <- 0 until 300) {
        val dirs = (0 until 1 + r.nextInt(8)).map(i => s"d$i")
        val rows: Map[String, Seq[Map[String, Any]]] = dirs.map { d =>
          val allNull = cols.filter(_ => r.nextInt(8) == 0).toSet
          d -> Seq.fill(r.nextInt(5))(cols.map(c =>
            c -> (if (allNull(c) || r.nextInt(4) == 0) null else pick(pools(c)))).toMap)
        }.toMap
        // some directories predate stats, some lack one column's stat
        val stats: Map[String, Map[String, ColStat]] = dirs.filter(_ => r.nextInt(7) != 0)
          .map(d => d -> cols.filter(_ => r.nextInt(10) != 0)
            .map(c => c -> statOf(c, rows(d).map(_(c)))).toMap).toMap
        val atoms: Seq[Atom] = Seq.fill(1 + r.nextInt(3)) {
          val c = pick(cols.toIndexedSeq)
          r.nextInt(5) match {
            case 0 | 1 => Cmp(c, pick(IndexedSeq("=", "<", "<=", ">", ">=")), pick(pools(c)))
            case 2 | 3 => InList(c, Seq.fill(1 + r.nextInt(4))(
              if (r.nextInt(5) == 0) null else pick(pools(c))))
            case _ => NullTest(c, r.nextBoolean())
          }
        }
        val cond = atoms.map(column).reduce(_ && _)
        def kept(preds: Seq[DataSkipping.Pred]): Seq[String] =
          DataSkipping.partition(preds, dirs, stats.get)._1
        val viaCatalyst = kept(DataSkipping.fromCondition(spark, cond, schema,
          java.time.Instant.now()))
        val viaFilter = kept(DataSkipping.fromFilters(atoms.map(filter)))
        val viaTuples = kept(tuples(atoms))
        val ctx = s"trial $trial: $atoms over $rows with $stats"
        assert(viaCatalyst === viaFilter, ctx)
        assert(viaTuples === viaFilter, ctx)
        // brute force: the condition, row by row
        val analyzed = probe.filter(cond).queryExecution.analyzed
        val bound = BindReferences.bindReference(
          analyzed.collectFirst { case f: CFilter => f.condition }.get, analyzed.output)
        val matching = dirs.filter(d => rows(d).exists(row =>
          bound.eval(InternalRow.fromSeq(cols.map(c => internal(row(c))))) == true))
        assert(matching.toSet.subsetOf(viaFilter.toSet), ctx)
        // IN is never looser than its [min, max] envelope
        val envelope = kept(DataSkipping.fromFilters(atoms.map {
          case InList(c, vs) if vs.exists(_ != null) =>
            val ms = DataSkipping.fromValues(c, vs).sorted
            sources.And(sources.GreaterThanOrEqual(c, ms.head),
              sources.LessThanOrEqual(c, ms.last))
          case a => filter(a)
        }))
        assert(viaFilter.toSet.subsetOf(envelope.toSet), ctx)
        if (viaFilter.size < dirs.size) pruned += 1
        if (viaFilter.size < envelope.size) inTighter += 1
      }
    }
    info(s"pruned in $pruned of 300 trials; exact IN tighter than its envelope in $inTighter")
    assert(jobs === 0)
    // the checks had teeth: pruning happened, and exact IN beat its envelope
    assert(pruned > 50 && inTighter > 10, s"pruned $pruned, IN tighter $inTighter")
  }

  test("-0.0 = 0.0: a directory holding only -0.0 survives x = 0.0 in every front end") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vt_negzero").toString
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append(Seq((1L, -0.0)).toDF("k", "x"))
    vt.append(Seq((2L, 5.0)).toDF("k", "x"))
    assert(spark.read.format("graftvt").load(dir).filter(col("x") === 0.0).count() === 1)
    assert(vt.pruneActive("x", Some(0.0), Some(0.0))._1.size === 1)
    vt.delete(col("x") === 0.0)
    assert(vt.lastDiscoveryDirs.size === 1)
    assert(vt.read().select("k").as[Long].collect().toSeq === Seq(2L))
  }
}
