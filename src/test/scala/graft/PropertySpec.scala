package graft

import org.apache.spark.sql.functions._
import graft.operators.{Components, Dedup, NearDup, Quality}

/** Property tests for the invariants SURVEY §5.2 pins: dedup
  * idempotence, avg ignoring nulls, clean-policy containment,
  * union-append equivalence. Inputs are seeded random datasets
  * (deterministic across runs).
  */
class PropertySpec extends SparkSuite {
  import spark.implicits._

  private def randomRows(seed: Int, n: Int = 60): List[(Int, Option[Double])] = {
    val r = new scala.util.Random(seed)
    List.fill(n)((r.nextInt(10),
      if (r.nextBoolean()) Some(r.nextDouble() * 200 - 100) else None))
  }

  test("keepFirst is idempotent: dedup(dedup(x)) == dedup(x)") {
    for (seed <- 1 to 8) {
      val data = randomRows(seed)
      val df = data.zipWithIndex.map { case ((k, v), i) => (k, v, i.toLong) }.toDF("k", "v", "ord")
      val once = Dedup.keepFirst(df, Seq("k"), Seq(col("ord")))
      val twice = Dedup.keepFirst(once, Seq("k"), Seq(col("ord")))
      assert(once.collect().sortBy(_.getLong(2)).toSeq === twice.collect().sortBy(_.getLong(2)).toSeq)
    }
  }

  test("avg ignores nulls: avg(xs ++ nulls) == avg(xs)") {
    for (seed <- 1 to 8) {
      val data = randomRows(seed)
      val present = data.flatMap(_._2)
      val a = data.map(_._2).toDF("v").agg(avg($"v")).collect()(0).getDouble(0)
      val b = present.toDF("v").agg(avg($"v")).collect()(0).getDouble(0)
      assert(math.abs(a - b) < 1e-9)
    }
  }

  test("clean policies nest: DropIfAnyNull ⊆ DropIfAllNull ⊆ KeepAll") {
    for (seed <- 1 to 8) {
      val df = randomRows(seed).map { case (k, v) =>
        (v, if (k % 3 == 0) None else Some(k.toDouble))
      }.toDF("a", "b")
      val strict = Quality.clean(df, Seq("a", "b"), Quality.DropIfAnyNull).count()
      val loose = Quality.clean(df, Seq("a", "b"), Quality.DropIfAllNull).count()
      val all = Quality.clean(df, Seq("a", "b"), Quality.KeepAll).count()
      assert(strict <= loose && loose <= all && all === 60L)
    }
  }

  test("allPairs is ordering-invariant: hash-order == frequency-order result") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val hashOrd = NearDup.allPairsNearDups(docs, "doc_id", "text", freqOrder = false)
    val freqOrd = NearDup.allPairsNearDups(docs, "doc_id", "text", freqOrder = true)
    val h = canon(hashOrd)
    assert(h.nonEmpty)           // the corpus has injected near-dup pairs
    assert(h === canon(freqOrd)) // prefix theorem holds under any total order
  }

  test("connectedComponents is idempotent and symmetric in edge direction") {
    val r = new scala.util.Random(11)
    val edges = List.fill(30)((r.nextInt(20).toLong, r.nextInt(20).toLong))
      .filter { case (a, b) => a != b }
    val df = edges.toDF("id_a", "id_b")
    val flipped = edges.map(_.swap).toDF("id_a", "id_b")
    def canon(c: org.apache.spark.sql.DataFrame) =
      c.collect().map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    val once = canon(Components.connectedComponents(df))
    assert(once === canon(Components.connectedComponents(flipped)))
    // every label is itself a member node of the same cluster (root fixpoint)
    val labels = once.toMap
    once.foreach { case (_, cl) => assert(labels(cl) === cl) }
  }

  test("keepBest elects exactly one keeper per cluster, maximizing (score, -id), on random graphs") {
    for (seed <- 1 to 3) {
      val r = new scala.util.Random(seed)
      val edges = List.fill(40)((r.nextInt(30).toLong, r.nextInt(30).toLong))
        .filter { case (a, b) => a != b }
      val df = edges.toDF("id_a", "id_b")
      // Coarse scores force ties so the min-id tiebreak is exercised.
      val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
      val scores = nodes.map(n => (n, r.nextInt(3).toLong))
      val attrs = scores.toDF("doc_id", "score")
      val out = Components.keepBest(
          Components.connectedComponents(df), attrs, "doc_id", col("score"))
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getBoolean(2)))
      val scoreMap = scores.toMap
      out.groupBy(_._2).foreach { case (_, members) =>
        val keepers = members.filter(_._3).map(_._1)
        assert(keepers.length === 1, "exactly one keeper per cluster")
        // The keeper beats every member on (score, then smaller id).
        val best = members.map(_._1).minBy(n => (-scoreMap(n), n))
        assert(keepers.head === best)
      }
    }
  }

  test("fingerprintNearDups finds every pair within Hamming 3 and nothing beyond it") {
    val r = new scala.util.Random(41)
    // Well-separated random fingerprints + planted low-Hamming copies.
    val base = (0 until 30).map(i => (i.toLong, r.nextLong()))
    val planted = base.take(10).zipWithIndex.map { case ((id, fp), k) =>
      val flips = k % 4 // 0..3 bit flips — all must be recovered
      var fp2 = fp
      (0 until flips).foreach(b => fp2 ^= 1L << ((k * 7 + b * 11) % 64))
      (id + 1000L, fp2, id, flips)
    }
    val fps = (base ++ planted.map(p => (p._1, p._2))).toDF("media_id", "dhash")
    val got = graft.operators.NearDup.fingerprintNearDups(fps, "media_id", "dhash")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
    // Every planted pair surfaces at its exact flip count...
    planted.foreach { case (cid, _, oid, flips) =>
      assert(got.contains((oid, cid, flips)), s"missed planted pair $oid-$cid@$flips")
    }
    // ...and nothing reported exceeds the threshold (verify is exact).
    got.foreach { case (_, _, h) => assert(h <= 3) }
  }

  test("exactHeavyHitters equals the full groupBy under any partitioning") {
    val r = new scala.util.Random(13)
    // Zipf-ish stream: a few hot tokens, a long random tail that
    // forces constant SpaceSaving eviction churn.
    val toks = (1 to 4000).map { _ =>
      val x = r.nextInt(100)
      if (x < 30) "hot" + r.nextInt(3)
      else if (x < 45) "warm" + r.nextInt(10)
      else "tail" + r.nextInt(1500)
    }
    val k = 16
    val exact = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
      .filter { case (_, c) => c * k > toks.size }
    for (parts <- Seq(1, 3, 17)) {
      val df = toks.toDF("tok").repartition(parts)
      val got = graft.operators.HeavyHitters.exactHeavyHitters(df, "tok", k)
        .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
      assert(got === exact, s"parts=$parts")
    }
  }

  test("epochMixture conserves the recipe arithmetic on a random corpus") {
    val r = new scala.util.Random(7)
    val docs = (1L to 60L).map { i =>
      val words = List.fill(1 + r.nextInt(9))("w" + r.nextInt(50)).mkString(" ")
      (i, "s" + (i % 3), words)
    }.toDF("doc_id", "source", "text")
    val targets = Map("s0" -> 900L, "s1" -> 40L)
    val out = graft.operators.Sampling.epochMixture(docs, "source", "doc_id", "text", targets)
      .collect().map(x => (x.getLong(0), x.getString(1), x.getLong(2), x.getLong(3)))
    val totals = out.filter(_._4 == 0L) // epoch 0 exists for any admitted stratum
    assert(totals.nonEmpty)
    for ((stratum, target) <- targets) {
      val rows = out.filter(_._2 == stratum)
      if (rows.nonEmpty) {
        val total = docs.filter(col("source") === stratum)
          .select(graft.functions.TextFunctions.tokenCount(col("text")).cast("long"))
          .collect().map(_.getLong(0)).sum
        val nFull = target / total
        val frac = target % total
        // Every full epoch carries the whole stratum, once per epoch.
        val perEpoch = rows.groupBy(_._4).view.mapValues(_.map(_._3).sum).toMap
        for (e <- 0L until nFull) assert(perEpoch(e) === total)
        // The fractional epoch carries at most frac tokens (and at
        // most one doc short of frac from below, by prefix admission).
        assert(perEpoch.getOrElse(nFull, 0L) <= frac)
        // Total emitted token mass never exceeds the target.
        assert(rows.map(_._3).sum <= target)
      }
    }
    assert(!out.exists(_._2 == "s2"), "stratum outside the recipe excluded")
  }

  test("auto closure: driver union-find == distributed propagation on both sides of the gate") {
    def canon(c: org.apache.spark.sql.DataFrame) =
      c.collect().map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    for (seed <- 1 to 3) {
      val r = new scala.util.Random(seed)
      val edges = List.fill(40)((r.nextInt(30).toLong, r.nextInt(30).toLong))
        .filter { case (a, b) => a != b }
      val df = edges.toDF("id_a", "id_b")
      val want = canon(Components.connectedComponents(df))
      // Default threshold ⇒ driver union-find; threshold 0 ⇒ forced
      // distributed fallback. Both must equal plain propagation.
      assert(canon(Components.connectedComponentsAuto(df)) === want)
      assert(canon(Components.connectedComponentsAuto(df, collectThreshold = 0)) === want)
    }
  }

  test("star contraction == label propagation on random graphs") {
    def canon(c: org.apache.spark.sql.DataFrame) =
      c.collect().map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    for (seed <- 1 to 5) {
      val r = new scala.util.Random(seed)
      val edges = List.fill(40)((r.nextInt(30).toLong, r.nextInt(30).toLong))
        .filter { case (a, b) => a != b }
      val df = edges.toDF("id_a", "id_b")
      assert(canon(Components.connectedComponentsStar(df)) ===
        canon(Components.connectedComponents(df)))
    }
  }

  test("star contraction labels a 200-node chain (diameter >> label-prop budget)") {
    // Label propagation needs O(diameter) rounds — 200 here, past its
    // maxIter guard; star contraction needs O(log²) and must finish
    // well inside 30. This is exactly the graph shape the variant
    // exists for.
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = Components.connectedComponentsStar(chain).collect()
      .map(x => (x.getLong(0), x.getLong(1)))
    assert(labels.length === 200)
    assert(labels.forall(_._2 === 0L)) // one component, min node 0
    intercept[IllegalStateException] {
      Components.connectedComponents(chain, maxIter = 20)
    }
  }

  test("allPairsNearDupsAuto matches the explicit-order result") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val auto = canon(NearDup.allPairsNearDupsAuto(docs, "doc_id", "text"))
    assert(auto.nonEmpty)
    assert(auto === canon(NearDup.allPairsNearDups(docs, "doc_id", "text")))
    // Empty corpus: max(f) aggregates to NULL — the skew check must
    // treat that as flat (hash order) rather than NPE on getLong.
    assert(NearDup.allPairsNearDupsAuto(docs.filter(lit(false)), "doc_id", "text")
      .count() === 0L)
  }

  test("hygieneFunnel stages are monotone non-increasing") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val stages = graft.operators.CorpusHygiene.hygieneFunnel(docs, "doc_id", "text")
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    assert(stages.length === 5)
    stages.sliding(2).foreach { case Array((_, prev), (_, next)) =>
      assert(next <= prev, s"funnel stage grew: $prev -> $next")
    }
    assert(stages.head._2 === docs.count()) // s0 == corpus size
  }

  test("tokenBudgetSample: per-stratum sums within budget, prefix-closed in hash order") {
    val r = new scala.util.Random(17)
    val docs = (1 to 120).map { i =>
      (i.toLong, s"src${i % 3}", Seq.fill(r.nextInt(20) + 1)("w").mkString(" "))
    }.toDF("doc_id", "source", "text")
    val budgets = Map("src0" -> 60L, "src1" -> 25L)
    val out = graft.operators.Sampling
      .tokenBudgetSample(docs, "source", "doc_id", "text", budgets)
      .collect().map(x => (x.getString(1), x.getLong(0), x.getLong(2), x.getLong(3)))
    // Every admitted stratum is budgeted and its token mass fits.
    out.groupBy(_._1).foreach { case (src, rows) =>
      assert(budgets.contains(src)) // src2 (unbudgeted) never appears
      assert(rows.map(_._3).sum <= budgets(src))
    }
    // Exact prefix semantics, replicated independently: sort each
    // stratum by md5('graft' || id), run the cumulative sum, keep the
    // maximal prefix within budget — must equal the admitted set.
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    for ((src, budget) <- budgets) {
      val expected = docs.collect()
        .filter(_.getString(1) == src)
        .map(d => (md5hex("graft" + d.getLong(0)), d.getLong(0),
          d.getString(2).split(" ").length.toLong))
        .sortBy(_._1)
        .scanLeft(("", -1L, 0L)) { case ((_, _, cum), (h, id, t)) => (h, id, cum + t) }
        .drop(1)
        .takeWhile(_._3 <= budget)
        .map(_._2).toSet
      assert(out.filter(_._1 == src).map(_._2).toSet === expected)
    }
  }

  test("native graft_jaccard equals the composable intersect/union form") {
    graft.plans.NativeFunctions.ensureRegistered(spark)
    val r = new scala.util.Random(7)
    // deliberately NOT distinct: set semantics must hold on duplicates
    val rows = (1 to 50).map { i =>
      val a = Seq.fill(r.nextInt(30) + 1)(r.nextInt(40).toLong)
      val b = Seq.fill(r.nextInt(30) + 1)(r.nextInt(40).toLong)
      (i, a, b)
    }
    // zero-valued hashes (the probe-set sentinel) incl. duplicated zeros
    val df = (rows :+ ((0, Seq(0L, 0L, 5L), Seq(0L, 9L, 9L)))).toDF("i", "a", "b")
    val out = df.select(
      expr("graft_jaccard(a, b)").as("native"),
      NearDup.jaccard(col("a"), col("b")).as("hof")).collect()
    out.foreach(x => assert(x.getDouble(0) === x.getDouble(1)))
  }

  test("native graft_simhash equals the 64-lambda composable form") {
    graft.plans.NativeFunctions.ensureRegistered(spark)
    val r = new scala.util.Random(13)
    val rows = (1 to 40).map(i => (i, Seq.fill(r.nextInt(50) + 1)(r.nextLong()))) :+
      ((0, Seq.empty[Long]))
    val df = rows.toDF("i", "hs")
    val out = df.select(
      expr("graft_simhash(hs)").as("native"),
      NearDup.simHashFromHashes(col("hs")).as("hof")).collect()
    out.foreach(x => assert(x.getLong(0) === x.getLong(1)))
  }

  test("histogram conserves mass: bin counts sum to row count, bins are disjoint") {
    for (seed <- 1 to 4) {
      val r = new scala.util.Random(seed)
      val df = List.fill(200)((if (r.nextBoolean()) "a" else "b",
        r.nextDouble() * 400 - 100)).toDF("grp", "v")
      val h = graft.operators.Sketches.histogram(df, "v", binWidth = 25.0,
        groupCols = Seq("grp")).collect()
      assert(h.map(_.getAs[Long]("n_rows")).sum === 200L)
      // (grp, bin) keys unique — bins can't overlap
      assert(h.map(x => (x.getString(0), x.getLong(1))).distinct.length === h.length)
    }
  }

  test("rollingActiveUsers(1) == daily distinct actives (DAU identity)") {
    val r = new scala.util.Random(7)
    val ev = List.fill(300)((r.nextInt(20).toLong,
      s"2024-01-${"%02d".format(r.nextInt(20) + 1)}"))
      .toDF("user_id", "d")
      .select($"user_id", $"d".cast("timestamp").as("ts"))
    val wau1 = graft.operators.Sessions.rollingActiveUsers(ev, "user_id", "ts", 1)
      .collect().map(x => x.getDate(0).toString -> x.getLong(1)).toMap
    val dau = ev.select($"user_id", to_date($"ts").as("day")).distinct()
      .groupBy("day").count()
      .collect().map(x => x.getDate(0).toString -> x.getLong(1)).toMap
    assert(wau1 === dau)
  }

  test("vocab conserves mass: sum(n_occur) over full vocab == corpus token count") {
    val r = new scala.util.Random(11)
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon")
    val docs = (1 to 30).map(i =>
      (i.toLong, List.fill(r.nextInt(12) + 1)(words(r.nextInt(5))).mkString(" ")))
      .toDF("doc_id", "text")
    val v = graft.functions.TextFunctions.vocab(docs, "doc_id", "text", k = 1000)
      .collect()
    val total = docs.select(sum(size(split($"text", "\\s+"))))
      .collect()(0).getLong(0)
    assert(v.map(_.getAs[Long]("n_occur")).sum === total)
    // n_docs never exceeds n_occur, and never exceeds the doc count
    v.foreach { row =>
      assert(row.getAs[Long]("n_docs") <= row.getAs[Long]("n_occur"))
      assert(row.getAs[Long]("n_docs") <= 30L)
    }
  }

  test("capPerStratum: survivors per stratum == min(cap, population); ranks dense") {
    val r = new scala.util.Random(23)
    for (seed <- 1 to 4) {
      val rr = new scala.util.Random(seed)
      val docs = (1 to 150).map { i =>
        (i.toLong + seed * 1000, s"src${rr.nextInt(5)}", s"doc $i")
      }.toDF("doc_id", "source", "text")
      val cap = 10L + r.nextInt(15)
      val out = graft.operators.Sampling.capPerStratum(docs, "source", "doc_id", cap)
        .collect().map(x => (x.getAs[String]("source"), x.getAs[Long]("doc_id"),
          x.getAs[Long]("stratum_rank")))
      val pop = docs.collect().groupBy(_.getString(1)).view.mapValues(_.length.toLong).toMap
      out.groupBy(_._1).foreach { case (src, rows) =>
        assert(rows.length.toLong === math.min(cap, pop(src)))
        // Ranks are exactly 1..k — dense, no gaps, capped.
        assert(rows.map(_._3).sorted.toSeq === (1L to rows.length))
      }
      // Every stratum with population > 0 appears.
      assert(out.map(_._1).toSet === pop.keySet)
    }
  }

  test("duplicatePassages: doubling any doc marks ALL its windows duplicated") {
    val r = new scala.util.Random(31)
    val base = (1 to 12).map { i =>
      (i.toLong, Seq.fill(r.nextInt(10) + 5)(s"w${r.nextInt(50)}").mkString(" "))
    }
    val cloned = base ++ Seq((99L, base.head._2)) // exact clone of doc 1
    val out = graft.operators.CorpusHygiene
      .duplicatePassages(cloned.toDF("doc_id", "text"), "doc_id", "text", window = 3)
      .collect().map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("n_windows"), x.getAs[Long]("n_dup"))).toMap
    // The cloned pair has every window duplicated (coverage 1.0)...
    assert(out(1L)._1 === out(1L)._2 && out(1L)._2 > 0)
    assert(out(99L)._1 === out(99L)._2)
    // ...and n_dup never exceeds n_windows anywhere.
    out.values.foreach { case (nw, nd) => assert(nd <= nw) }
  }

  test("bloom decon never misses: bloom survivor set ⊆ exact survivor set") {
    val r = new scala.util.Random(41)
    for (seed <- 1 to 3) {
      val rr = new scala.util.Random(seed * 7)
      val docs = (1 to 40).map { i =>
        (i.toLong, Seq.fill(12)(s"t${rr.nextInt(30)}").mkString(" "))
      }.toDF("doc_id", "text")
      val bench = docs.filter(col("doc_id") % 8 === 0)
      val corpus = docs.filter(col("doc_id") % 8 =!= 0)
      val keptB = graft.operators.CorpusHygiene.bloomDecontaminate(
        corpus, bench, "doc_id", "text", n = 3, minShared = 2)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val keptE = graft.operators.CorpusHygiene.removeContaminated(
        corpus, bench, "doc_id", "text", n = 3, minShared = 2)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(keptB.subsetOf(keptE),
        s"bloom kept a doc the exact rule flags: ${keptB -- keptE}")
    }
  }

  test("append-then-dedup == union-then-dedup (storage is the union operator)") {
    for (seed <- 1 to 8) {
      val d1 = randomRows(seed)
      val d2 = randomRows(seed + 100)
      val a = d1.zipWithIndex.map { case ((k, v), i) => (k, v, i.toLong) }.toDF("k", "v", "ord")
      val b = d2.zipWithIndex.map { case ((k, v), i) => (k, v, (i + d1.size).toLong) }.toDF("k", "v", "ord")
      val viaUnion = Dedup.keepFirst(a.union(b), Seq("k"), Seq(col("ord"))).count()
      val expectedKeys = (d1 ++ d2).map(_._1).distinct.size.toLong
      assert(viaUnion === expectedKeys)
    }
  }

  test("shuffleDeterministic is layout-independent; a new salt permutes") {
    import graft.operators.Sampling
    val docs = (1L to 300L).map(i => (i, s"doc $i")).toDF("id", "payload")
    def run(df: org.apache.spark.sql.DataFrame, salt: String) =
      Sampling.shuffleDeterministic(df, "id", shards = 4, salt = salt)
        .select("id", "shard", "pos").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val one = run(docs.coalesce(1), "graft")
    val seven = run(docs.repartition(7), "graft")
    assert(one === seven, "same (shard, pos) on any physical layout")
    // every shard's positions are a contiguous 1..n ranking
    one.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).toList.sorted === (1L to rows.size).toList)
    }
    // a different salt is a genuinely different permutation
    val resalted = run(docs, "epoch2")
    assert(resalted !== one)
    assert(resalted.map(_._1) === one.map(_._1), "same rows, new order")
  }

  test("as-of tri-implementation agreement: composed == native == SQL on random series") {
    // Three independent code paths answer the same join — the composed
    // union+window operator, the custom planner exec, and the parsed
    // ASOF SQL — on seeded random keyed time series with duplicate
    // timestamps, sparse keys, and keys present on only one side.
    import java.sql.Timestamp
    for (seed <- 1 to 4) {
      val r = new scala.util.Random(seed)
      def series(n: Int, keyMod: Int) = List.fill(n)(
        (r.nextInt(keyMod).toLong, new Timestamp(r.nextInt(1000) * 1000L), r.nextInt(10000).toLong))
      val left = series(80, 7).zipWithIndex
        .map { case ((k, t, v), i) => (i.toLong, k, t, v) }
        .toDF("lid", "k", "t", "lv")
      // Tie-free right side: with duplicate (k, rt) rows the matched
      // VALUE is legitimately implementation-defined (sort-order tie);
      // deduplicating pins all three paths to one exact answer. Left
      // duplicates stay — every left row must answer independently.
      val right = series(40, 9).toDF("k", "rt", "rv").dropDuplicates("k", "rt")
      def canon(df: org.apache.spark.sql.DataFrame): Map[Long, Option[Long]] =
        df.collect().map(x => x.getLong(0) ->
          (if (x.isNullAt(1)) None else Some(x.getLong(1)))).toMap
      val composed = canon(graft.operators.Joins.asOf(
        left, right, Seq("k"), "t", "rt", Seq("rv")).select(col("lid"), col("asof_rv")))
      val native = canon(graft.plans.AsOfJoinPlan.asOfNative(
        left, right, Seq("k"), "t", "rt", hint = Some("merge"))
        .select(col("lid"), col("asof_rv")))
      val bcast = canon(graft.plans.AsOfJoinPlan.asOfNative(
        left, right, Seq("k"), "t", "rt", hint = Some("broadcast"))
        .select(col("lid"), col("asof_rv")))
      left.createOrReplaceTempView("prop_asof_l")
      right.createOrReplaceTempView("prop_asof_r")
      val sql = canon(spark.sql(
        """SELECT l.lid, r.rv FROM prop_asof_l l
          |ASOF LEFT JOIN prop_asof_r r ON l.k = r.k AND l.t >= r.rt""".stripMargin))
      assert(native === composed, s"seed $seed: native vs composed")
      assert(bcast === native, s"seed $seed: broadcast vs merge")
      assert(sql === native, s"seed $seed: SQL vs native")
      assert(composed.values.exists(_.isDefined) &&
        composed.values.exists(_.isEmpty), s"seed $seed covers both outcomes")
    }
  }

  test("versioned table model check: random op sequences match an in-memory reference") {
    // Model-based property test for the whole row-level surface: one
    // seeded sequence of append / overwrite / upsert merge / delete /
    // update / clause merge / optimize / restore / compact ops is
    // applied to TWO real VersionedTables, one mutating with deletion
    // vectors and one copy-on-write, and to a driver-side Map[k -> s]
    // reference model. After every op, on both tables:
    //   - the snapshot equals the model and fastCount its size;
    //   - statRange("k"), wherever the metadata answers (outstanding
    //     DVs or a stat-less directory make it decline), is the model's
    //     exact key range;
    //   - replaying changes(v, v) onto the model at v-1 gives the model
    //     at v (removals: delete / update_preimage; additions: insert /
    //     update_postimage; multiset, so a removal of a row the model
    //     never held fails);
    //   - on a step drawn with writeChangeData the feed is exact: no row
    //     is both removed and added by the one commit.
    // At the end every recorded version time-travels back to its model,
    // and one random range changes(a, b) replays version by version
    // from the model at a-1 to the model at b.
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.{col, concat, lit}
    import graft.sources.{MergeAction, MergeClause, VersionedTable}
    type Model = Map[Long, String]
    val tables = new graft.sources.TableManager(spark)
    def bag(rows: Iterable[(Long, String)]): Map[(Long, String), Int] =
      rows.groupBy(identity).map { case (r, xs) => r -> xs.size }
    /** (commit version, (row, change type)) of changes(a, b). */
    def feedOf(vt: VersionedTable, a: Int, b: Int): Seq[(Int, ((Long, String), String))] =
      vt.changes(a, b).select("k", "s", "_change_type", "_commit_version").collect()
        .map(r => (r.getInt(3), ((r.getLong(0), r.getString(1)), r.getString(2)))).toSeq
    /** `prev` with one commit's feed applied. */
    def replay(feed: Seq[((Long, String), String)], prev: Model, what: String,
               exact: Boolean): Model = {
      val removed = feed.collect {
        case (r, t) if t == "delete" || t == "update_preimage" => r }
      val added = feed.collect {
        case (r, t) if t == "insert" || t == "update_postimage" => r }
      if (exact) assert(removed.intersect(added).isEmpty,
        s"$what: rows both removed and added: ${removed.intersect(added)}")
      var b = bag(prev)
      removed.foreach { r =>
        assert(b.getOrElse(r, 0) > 0, s"$what: removes $r, " +
          "which the model at v-1 does not hold")
        b = if (b(r) == 1) b - r else b.updated(r, b(r) - 1)
      }
      added.foreach(r => b = b.updated(r, b.getOrElse(r, 0) + 1))
      assert(b.values.forall(_ == 1), s"$what: replay duplicates a row")
      b.keys.toMap
    }
    val opsSeen = scala.collection.mutable.Set.empty[String]
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      // (useDeletionVectors, table)
      val vts: Seq[(Boolean, VersionedTable)] = Seq(false, true).map(dv =>
        dv -> tables.versioned(java.nio.file.Files
          .createTempDirectory(s"vt-model-$seed-${if (dv) "dv" else "cow"}").toString))
      def df(rows: Seq[(Long, String)]) = rows.toDF("k", "s")
      def randRows(n: Int) =
        Seq.fill(n)((rnd.nextInt(40).toLong, s"s${rnd.nextInt(1000)}"))
          .distinctBy(_._1) // unique source keys (the multi-match refusal)
      def each(op: (VersionedTable, Boolean) => Int): Unit =
        vts.foreach { case (dv, vt) => op(vt, dv) }
      var model: Model = Map.empty
      // (version per table, model at those versions): time-travel sweep
      var history = Vector.empty[(Seq[Int], Model)]
      // per table (by useDeletionVectors): the model at every version
      val models = Map(false -> scala.collection.mutable.Map.empty[Int, Model],
        true -> scala.collection.mutable.Map.empty[Int, Model])
      val init = randRows(6)
      model = init.toMap
      each { (vt, dv) =>
        val v = vt.append(df(init))
        models(dv)(v) = model
        v
      }
      history :+= ((vts.map(_._2.latestVersion), model))
      for (step <- 1 to 14) {
        val prev = model
        val before = vts.map(_._2.latestVersion)
        // a persisted row-level CDC and the coarse synthesis must both
        // replay exactly
        val cdc = rnd.nextBoolean()
        val opKind = rnd.nextInt(10)
        val exact = cdc && Set(2, 3, 8, 9).contains(opKind)
        opKind match {
          case 0 => // append fresh keys only (append never upserts)
            val rows = randRows(4).filterNot(r => model.contains(r._1))
            if (rows.nonEmpty) { model ++= rows; each((vt, _) => vt.append(df(rows))) }
          case 1 =>
            val rows = randRows(5)
            model = rows.toMap; each((vt, _) => vt.overwrite(df(rows)))
          case 2 => // merge (upsert)
            val rows = randRows(4)
            model ++= rows
            each((vt, dv) => vt.merge(df(rows), Seq("k"), writeChangeData = cdc,
              useDeletionVectors = dv))
          case 3 => // delete a random key band (may be a no-op)
            val lo = rnd.nextInt(40).toLong
            model = model.filterNot { case (k, _) => k >= lo && k < lo + 8L }
            each((vt, dv) => vt.delete(col("k") >= lo && col("k") < lo + 8L,
              writeChangeData = cdc, useDeletionVectors = dv))
          case 4 => // optimize: data identical, new version
            if (model.nonEmpty) {
              val chunks = 1 + rnd.nextInt(3)
              each((vt, _) => vt.optimize("k", chunks))
            }
          case 5 => // restore to a random recorded version
            val (tvs, tm) = history(rnd.nextInt(history.length))
            model = tm
            vts.zip(tvs).foreach { case ((_, vt), tv) => vt.restore(tv) }
          case 6 => // bin-packing compact: data identical, new version
            if (model.nonEmpty) {
              val chunks = 1 + rnd.nextInt(3)
              each((vt, _) => vt.compact(chunks))
            }
          case 7 => // scoped optimize: rewrites only in-scope dirs,
            // data identical (may be a no-op when nothing intersects)
            if (model.nonEmpty) {
              val lo = rnd.nextInt(40).toLong
              val chunks = 1 + rnd.nextInt(2)
              each((vt, _) => vt.optimizeWhere("k", chunks, "k",
                Some(lo), Some(lo + 10L)))
            }
          case 8 => // update a random key band (may be a no-op)
            val lo = rnd.nextInt(40).toLong
            model = model.map { case (k, s) =>
              k -> (if (k >= lo && k < lo + 6L) s + "u" else s) }
            each((vt, dv) => vt.update(col("k") >= lo && col("k") < lo + 6L,
              Map("s" -> concat(col("s"), lit("u"))), writeChangeData = cdc,
              useDeletionVectors = dv))
          case 9 => // clause merge: one of three clause shapes
            val rows = randRows(5)
            val src = rows.toMap
            val lo = rnd.nextInt(40).toLong
            val (matched, notMatched, bySource) = rnd.nextInt(3) match {
              case 0 => // conditional MATCHED DELETE, MATCHED UPDATE, INSERT *
                model = model.flatMap { case (k, s) => src.get(k) match {
                  case Some(_) if k % 3 == 0 => None
                  case Some(ss) => Some(k -> (s + ss))
                  case None => Some(k -> s)
                } } ++ src.filterNot(r => model.contains(r._1))
                (Seq(MergeClause(Some(col("s.k") % 3 === 0), MergeAction.Delete),
                  MergeClause(None, MergeAction.Update(Some(Map(
                    "s" -> concat(col("t.s"), col("s.s"))))))),
                  Seq(MergeClause(None, MergeAction.Insert(None))),
                  Seq.empty[MergeClause])
              case 1 => // the upsert shape: UPDATE SET *, INSERT *
                model ++= src
                (Seq(MergeClause(None, MergeAction.Update(None))),
                  Seq(MergeClause(None, MergeAction.Insert(None))),
                  Seq.empty[MergeClause])
              case _ => // conditional UPDATE SET * and INSERT VALUES, plus
                // NOT MATCHED BY SOURCE DELETE and UPDATE
                model = model.flatMap { case (k, s) => src.get(k) match {
                  case Some(ss) => Some(k -> (if (k % 2 == 0) ss else s))
                  case None if k < lo => None
                  case None if k < lo + 10L => Some(k -> (s + "b"))
                  case None => Some(k -> s)
                } } ++ src.collect {
                  case (k, ss) if !model.contains(k) && k % 2 == 1 => k -> ("i" + ss)
                }
                (Seq(MergeClause(Some(col("s.k") % 2 === 0), MergeAction.Update(None))),
                  Seq(MergeClause(Some(col("s.k") % 2 === 1), MergeAction.Insert(Some(Map(
                    "k" -> col("s.k"), "s" -> concat(lit("i"), col("s.s"))))))),
                  Seq(MergeClause(Some(col("t.k") < lo), MergeAction.Delete),
                    MergeClause(Some(col("t.k") < lo + 10L), MergeAction.Update(Some(Map(
                      "s" -> concat(col("t.s"), lit("b"))))))))
            }
            each((vt, dv) => vt.mergeClauses(df(rows), Seq("k"), matched, notMatched,
              bySource, writeChangeData = cdc, useDeletionVectors = dv))
        }
        val after = vts.map(_._2.latestVersion)
        if (after != before) history :+= ((after, model))
        val range: Option[(Any, Any)] =
          if (model.isEmpty) None else Some((model.keys.min, model.keys.max))
        vts.zip(before.zip(after)).foreach { case ((dv, vt), (v0, v)) =>
          val what = s"seed $seed step $step op $opKind ${if (dv) "dv" else "cow"}"
          val snap = vt.read().collect().map(r => r.getLong(0) -> r.getString(1))
          assert(snap.length === snap.toMap.size, s"$what: duplicate keys")
          assert(snap.toMap === model, s"$what: snapshot != model")
          assert(vt.fastCount() === Some(model.size.toLong), what)
          val sr = vt.statRange("k")
          assert(sr.isEmpty || sr === range, s"$what: statRange $sr != model $range")
          if (v != v0) {
            assert(replay(feedOf(vt, v, v).map(_._2), prev, s"$what: changes($v, $v)",
              exact) === model, s"$what: changes($v, $v) replayed onto v-1 != model at v")
            models(dv)(v) = model
          }
        }
      }
      vts.foreach { case (dv, vt) =>
        val latest = vt.latestVersion
        assert(models(dv).keySet === (0 to latest).toSet,
          s"seed $seed: a step committed more than one version")
        val a = 1 + rnd.nextInt(latest)
        val b = a + rnd.nextInt(latest - a + 1)
        val what = s"seed $seed ${if (dv) "dv" else "cow"} changes($a, $b)"
        val feed = feedOf(vt, a, b)
        val got = (a to b).foldLeft(models(dv)(a - 1)) { (m, v) =>
          replay(feed.collect { case (`v`, f) => f }, m, s"$what at $v", exact = false)
        }
        assert(got === models(dv)(b), s"$what replayed onto a-1 != model at b")
      }
      vts.foreach { case (_, vt) =>
        opsSeen ++= vt.history().collect().map(_.getString(1)) }
      // time travel: every recorded version reads its recorded state
      history.foreach { case (vs, m) =>
        vts.zip(vs).foreach { case ((dv, vt), v) =>
          val snap = vt.readAt(v).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
          assert(snap === m, s"seed $seed ${if (dv) "dv" else "cow"}: " +
            s"version $v time-travel mismatch")
        }
      }
    }
    // the sequences reach every mutation in both commit shapes
    Seq("merge", "merge-dv", "delete", "delete-dv", "update", "update-dv", "restore")
      .foreach(op => assert(opsSeen.contains(op), s"no $op commit: $opsSeen"))
  }
}
