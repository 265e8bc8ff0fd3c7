package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** Differential fuzz sweep: the four interval kernels vs a pure-Scala
  * naive model over 100 seeded parameter sets (bin widths crossing
  * boundaries, radius 0, empty B, duplicate identities collapsing). The
  * driver gate (q106) replays the first [[Fuzz.GateSeeds]] seeds against
  * DuckDB; this spec covers the longer tail. */
class FuzzSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {
  import spark.implicits._

  // fixed fixture pairs — the same values feed the Spark side (as a
  // DataFrame) and the naive model (in memory)
  private val pairs: Seq[(Long, Long)] =
    (0 until 48).map(i => ((i * 97L + 13) % 467, (i * 61L + 29) % 379))
  private lazy val base = pairs.toDF("pk", "sk").persist()

  // the session is shared by every suite: release the cached fixture
  override def afterAll(): Unit =
    try base.unpersist(blocking = true) finally super.afterAll()

  private def synth(nC: Long, m1: Long, m2: Long, modN: Long,
      stride: Long, width: Long, phase: Long, empty: Boolean)
      : Seq[(String, Long, Long)] =
    if (empty) Nil
    else pairs.map { case (pk, sk) =>
      ("c" + ((pk + sk) % nC), phase + ((pk * m1 + sk * m2) % modN) * stride)
    }.distinct.map { case (c, st) => (c, st, st + width) }

  /** The naive model: plain joins and per-base islands — obviously
    * correct, never the kernels' formulations. */
  private def naive(p: Fuzz.P): Seq[Long] = {
    val A = synth(p.nC, p.m1a, p.m2a, p.modA, p.strideA, p.widthA,
      p.phaseA, empty = false)
    val B = synth(p.nC, p.m1b, p.m2b, p.modB, p.strideB, p.widthB,
      p.phaseB, p.emptyB)
    val xs = for {
      a <- A; b <- B
      if a._1 == b._1 && a._2 < b._3 && b._2 < a._3
    } yield (math.max(a._2, b._2), math.min(a._3, b._3))
    val (nx, massx, sx) =
      (xs.size.toLong, xs.map(t => t._2 - t._1).sum, xs.map(_._1).sum)
    val best = A.flatMap { a =>
      val cands = B.filter(_._1 == a._1).map { b =>
        (math.max(0L, math.max(a._2 - b._3, b._2 - a._3)), b._2, b._3)
      }.filter(_._1 <= p.radius)
      if (cands.isEmpty) None else Some(cands.min)
    }
    val (nc, dc, sb) =
      (best.size.toLong, best.map(_._1).sum, best.map(_._2).sum)
    val bases = A.flatMap(a => (a._2 until a._3).map(pos => (a._1, pos)))
      .toSet
    val massm = bases.size.toLong
    val nm = bases.count { case (c, pos) => !bases((c, pos - 1)) }.toLong
    val bb = B.flatMap(b => (b._2 until b._3).map(pos => (b._1, pos)))
      .toSet
    var masss = 0L
    var ns = 0L
    A.foreach { a =>
      val kept = (a._2 until a._3).filter(pos => !bb((a._1, pos)))
      masss += kept.size
      ns += kept.count(pos => !kept.contains(pos - 1))
    }
    Seq(nx, massx, sx, nc, dc, sb, nm, massm, ns, masss)
  }

  test("100-seed differential sweep: every kernel checksum equals the " +
      "naive model's") {
    parSweep(0 until 100) { k =>
      val p = Fuzz.params(k)
      val g = Fuzz.runSeed(base, p)
      val got = Seq(g._2, g._3, g._4, g._5, g._6, g._7, g._8, g._9,
        g._10, g._11)
      assert(got === naive(p), s"seed $k diverged; params $p")
    }
  }

  private def naiveAsof(p: Fuzz.PA): Seq[Long] = {
    def synth(mulK2: Long, m1: Long, m2: Long, modT: Long, str: Long,
        ph: Long, empty: Boolean): Seq[(Long, Long)] =
      if (empty) Nil
      else pairs.map { case (pk, sk) =>
        ((pk + sk * mulK2) % p.nK, ph + ((pk * m1 + sk * m2) % modT) * str)
      }.distinct
    val L = synth(1, p.a1, p.a2, p.modL, p.strL, p.phL, empty = false)
    val R = synth(2, p.b1, p.b2, p.modR, p.strR, p.phR, p.emptyR)
      .map { case (rk, rt) => (rk, rt, rk * 100000L + rt) }
    var (nm, sv, st) = (0L, 0L, 0L)
    L.foreach { case (k, t) =>
      val cands = R.filter(_._1 == k)
      val pick = p.direction match {
        case "backward" =>
          val c = cands.filter(r => r._2 <= t &&
            (p.tolerance < 0 || t - r._2 <= p.tolerance))
          if (c.isEmpty) None else Some(c.maxBy(_._2))
        case "forward" =>
          val c = cands.filter(r => r._2 >= t &&
            (p.tolerance < 0 || r._2 - t <= p.tolerance))
          if (c.isEmpty) None else Some(c.minBy(_._2))
        case _ =>
          val c = cands.filter(r =>
            p.tolerance < 0 || math.abs(r._2 - t) <= p.tolerance)
          if (c.isEmpty) None
          else Some(c.minBy(r => (math.abs(r._2 - t), r._2)))
      }
      pick.foreach { r => nm += 1; sv += r._3; st += t }
    }
    Seq(L.size.toLong, nm, sv, st)
  }

  test("100-seed as-of differential sweep: AsOfJoinExec equals the " +
      "naive model across directions, tolerances, ties, empty right") {
    parSweep(0 until 100) { k =>
      val p = Fuzz.asofParams(k)
      val g = Fuzz.runAsofSeed(base, p)
      assert(Seq(g._2, g._3, g._4, g._5) === naiveAsof(p),
        s"seed $k diverged; params $p")
    }
  }

  // --------------------------------------------------------- text q111
  private def substrCp(s: String, pos: Int, len: Int): String = {
    val cps = s.codePoints().toArray
    val from = math.max(pos - 1, 0)
    val until = math.min(cps.length, from + math.max(len, 0))
    if (from >= until) "" else new String(cps, from, until - from)
  }

  private def grams(s: String, k: Int): Set[String] = {
    val cps = s.codePoints().toArray
    if (cps.length < k) Set.empty
    else (0 to cps.length - k).map(i => new String(cps, i, k)).toSet
  }

  test("30-seed text k-gram sweep: native expressions equal a naive " +
      "codepoint model and stay internally consistent") {
    val sf = "/root/testdata/sf0.001"
    val texts = graft.Tables.documents(spark, sf)
      .select("text").where(col("text").isNotNull)
      .as[String].collect()
    val docs = graft.Tables.documents(spark, sf)
      .select(col("text")).where(col("text").isNotNull).persist()
    try parSweep(0 until 30) { k =>
      val p = Fuzz.textParams(k)
      val g = Fuzz.runTextSeed(docs, p)
      assert(g._6, s"seed $k: hashed kernel diverged from string kernel")
      var (sda, sdb, sbi) = (0L, 0L, 0L)
      texts.foreach { t =>
        val ga = grams(substrCp(t, p.offA, p.lenA), p.k)
        val gb = grams(substrCp(t, p.offB, p.lenB), p.k)
        sda += ga.size; sdb += gb.size; sbi += ga.intersect(gb).size
      }
      assert((g._2, g._3, g._4, g._5) ===
        ((texts.length.toLong, sda, sdb, sbi)), s"seed $k params $p")
    } finally docs.unpersist(blocking = false)
  }

  // -------------------------------------------------------- ntile q113
  test("50-seed equi-depth NTILE sweep: the two-level kernel equals a " +
      "naive chunked assignment (ties, tiny totals, degenerate ranges)") {
    parSweep(0 until 50) { k =>
      val p = Fuzz.ntileParams(k)
      val g = Fuzz.runNtileSeed(base, p)
      val rows0 = pairs
        .filter { case (pk, sk) => k % 5 != 4 ||
          (pk * 100000L + sk) % 1000L < 7L }
        .map { case (pk, sk) =>
          ((pk * p.m1 + sk * p.m2) % p.modV, pk * 100000L + sk)
        }.distinct.sorted
      // independent naive formulation: explicit bucket sizes, assigned
      // sequentially (SQL NTILE's definition, not the rank formula)
      val n = rows0.length
      val q = n / p.buckets.toInt
      val rem = (n % p.buckets).toInt
      val sizes = Seq.fill(rem)(q + 1) ++
        Seq.fill(p.buckets.toInt - rem)(q)
      val buckets = sizes.zipWithIndex.flatMap { case (sz, i) =>
        Seq.fill(sz)(i + 1L)
      }
      val assigned = rows0.zip(buckets)
      val sumB = assigned.map(_._2).sum
      val sumBv = assigned.map { case ((v, _), b) => b * v }.sum
      val maxB = if (assigned.isEmpty) 0L else assigned.map(_._2).max
      assert((g._2, g._3, g._4, g._5) === ((n.toLong, sumB, sumBv, maxB)),
        s"seed $k params $p")
    }
  }

  test("q113 gate shape: one row per seed, seeds ascending") {
    val rows = Fuzz.q113NtileFuzzGate(spark, "/root/testdata/sf0.001")
      .select("seed").as[Long].collect().toSeq
    assert(rows === (0L until Fuzz.NtileGateSeeds.toLong))
  }

  // -------------------------------------------------------- depth q112
  test("60-seed coverage-depth sweep: the two-level kernel equals a " +
      "naive per-base pileup (multiset reads, stacked depth)") {
    parSweep(0 until 60) { k =>
      val p = Fuzz.params(k)
      val g = Fuzz.runDepthSeed(base, p)
      val depth = scala.collection.mutable.Map.empty[(String, Long), Long]
        .withDefaultValue(0L)
      pairs.foreach { case (pk, sk) =>
        val c = "c" + ((pk + sk) % p.nC)
        val st = p.phaseA + ((pk * p.m1a + sk * p.m2a) % p.modA) * p.strideA
        (st until st + p.widthA).foreach(pos => depth((c, pos)) += 1)
      }
      val mass = depth.size.toLong
      val baseDepth = depth.values.sum
      val maxd = if (depth.isEmpty) 0L else depth.values.max
      val nSeg = depth.count { case ((c, pos), d) =>
        depth.getOrElse((c, pos - 1), 0L) != d
      }.toLong
      assert((g._2, g._3, g._4, g._5) === ((nSeg, mass, baseDepth, maxd)),
        s"seed $k params $p")
    }
  }

  test("q112 gate shape: one row per seed, seeds ascending") {
    val rows = Fuzz.q112DepthFuzzGate(spark, "/root/testdata/sf0.001")
      .select("seed").as[Long].collect().toSeq
    assert(rows === (0L until Fuzz.DepthGateSeeds.toLong))
  }

  test("q110 gate shape: one row per seed, seeds ascending") {
    val rows = Fuzz.q110AsofFuzzGate(spark, "/root/testdata/sf0.001")
      .select("seed").as[Long].collect().toSeq
    assert(rows === (0L until Fuzz.AsofGateSeeds.toLong))
  }

  test("q106 gate shape: one row per seed, seeds ascending") {
    val rows = Fuzz.q106FuzzGate(spark, "/root/testdata/sf0.001")
      .select("seed").as[Long].collect().toSeq
    assert(rows === (0L until Fuzz.GateSeeds.toLong))
  }

  test("generated oracle SQL embeds every seed exactly once") {
    val sql = Fuzz.q106Sql
    (0 until Fuzz.GateSeeds).foreach { k =>
      assert(sql.contains(s"CAST($k AS BIGINT) AS seed"), s"seed $k")
    }
  }

  // ----------------------------------------------------------- cc q114
  /** Union-find over the same synthesized edges — obviously correct,
    * never the pointer-doubling formulation. Union-by-min makes every
    * component's root its minimum node id, matching the kernel's
    * cluster_id contract. */
  private def naiveCc(p: Fuzz.PC): Seq[Long] = {
    if (p.empty) return Seq(0L, 0L, 0L, 0L)
    def partner(u: Long): Long = p.layout match {
      case 0 => (u + p.gap) % p.modN
      case 1 => u % p.hubs
      case 2 => (u * p.m3 + 7) % p.modN
      case _ => (u / p.blockW) * p.blockW
    }
    val us = pairs.map { case (pk, sk) =>
      (pk * p.m1 + sk * p.m2) % p.modN
    }.distinct
    val edges = us.map(u => (u, partner(u)))
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: Long): Long = {
      var r = x; while (parent(r) != r) r = parent(r); r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val lab = nodes.map(n => find(n))
    val sizes = lab.groupBy(identity).values.map(_.size.toLong)
    Seq(nodes.size.toLong, lab.sum, sizes.size.toLong, sizes.max)
  }

  test("50-seed connected-components sweep: the pointer-doubling loop " +
      "equals union-find across chain/hub/functional/block layouts") {
    parSweep(0 until 50) { k =>
      val p = Fuzz.ccParams(k)
      val g = Fuzz.runCcSeed(base, p)
      assert(Seq(g._2, g._3, g._4, g._5) === naiveCc(p),
        s"seed $k diverged; params $p")
    }
  }

  test("q114 gate shape: one row per seed, seeds ascending") {
    val rows = Fuzz.q114CcFuzzGate(spark, "/root/testdata/sf0.001")
      .select("seed").as[Long].collect().toSeq
    assert(rows === (0L until Fuzz.CcGateSeeds.toLong))
  }

  // ----------------------------------------------------- resample q115
  /** Direct per-user simulation of LOCF + interpolation — linear scans
    * over the sorted series, never an as-of join or pair ownership. */
  private def naiveResample(p: Fuzz.PR): Seq[Long] = {
    val raw = if (p.empty) Nil
      else pairs.map { case (pk, sk) =>
        ((pk + sk) % p.nU,
          p.phase + ((pk * p.m1 + sk * p.m2) % p.modT) * p.stride,
          pk * 131071L + sk,
          (pk * p.m3 + sk) % 1000L)
      }
    val obs: Map[Long, Seq[(Long, Long)]] = raw
      .groupBy(r => (r._1, r._2))
      .map { case ((u, t), rs) => (u, t, rs.maxBy(_._3)._4) }.toSeq
      .groupBy(_._1)
      .view.mapValues(_.map(r => (r._2, r._3)).sortBy(_._1)).toMap
    val P = p.period
    var (nL, nNull, sbL, svL) = (0L, 0L, 0L, 0L)
    var (nI, sbI, svI) = (0L, 0L, 0L)
    obs.foreach { case (_, series) =>
      val lo = series.head._1 / P
      val hi = series.last._1 / P
      (lo to hi).foreach { b =>
        nL += 1; sbL += b
        val at = series.filter(_._1 <= b * P)
        if (at.isEmpty) nNull += 1 else svL += at.last._2
      }
      series.sliding(2).foreach {
        case Seq((t0, v0), (t1, v1)) =>
          val l = (t0 + P - 1) / P
          val h = (t1 - 1) / P
          (l to h).foreach { b =>
            nI += 1; sbI += b
            svI += (v0 * (t1 - b * P) + v1 * (b * P - t0)) / (t1 - t0)
          }
        case _ => () // single-observation series: no pair
      }
      val (tl, vl) = series.last
      if (tl % P == 0) { nI += 1; sbI += tl / P; svI += vl }
    }
    Seq(nL, nNull, sbL, svL, nI, sbI, svI)
  }

  test("50-seed resample sweep: LOCF (as-of kernel) and interpolation " +
      "(pair-ownership kernel) equal the per-user linear-scan model") {
    parSweep(0 until 50) { k =>
      val p = Fuzz.resampleParams(k)
      val g = Fuzz.runResampleSeed(base, p)
      assert(Seq(g._2, g._3, g._4, g._5, g._6, g._7, g._8)
        === naiveResample(p), s"seed $k diverged; params $p")
    }
  }

  test("q115 gate shape: one row per seed, seeds ascending") {
    val rows = Fuzz.q115ResampleFuzzGate(spark, "/root/testdata/sf0.001")
      .select("seed").as[Long].collect().toSeq
    assert(rows === (0L until Fuzz.ResampleGateSeeds.toLong))
  }

  // ---------------------------------------------------------- vcf q116
  /** Pure-Scala model of one VCF fuzz seed: the site synthesis plus a
    * plain filter — no index, no source, no Spark. */
  private def naiveVcf(p: Fuzz.PV): Seq[Long] = {
    val sites = pairs.map { case (pk, sk) =>
      ("c" + ((pk + sk) % p.nC),
        p.phase + ((pk * p.m1 + sk * p.m2) % p.modN) * p.stride + 1)
    }.distinct
    val r = sites.filter(t =>
      t._1 == s"c${p.qc}" && t._2 >= p.lo && t._2 < p.hi)
    Seq(sites.size.toLong, r.size.toLong, r.map(_._2).sum,
      r.map(t => t._2 % 7 + 1).sum, r.map(t => t._2 % 89 + 1).sum,
      // END mass: value pos + pos % endMod on every third position of
      // END-widened seeds — mirrors the synthesis endTerm
      r.map(t => if (p.endMod > 0 && t._2 % 3 == 0)
        t._2 + t._2 % p.endMod else 0L).sum)
  }

  test("50-seed VCF surface sweep: index-pruned region scans through " +
      "both sidecar formats equal a plain filter model") {
    val root =
      s"/tmp/graft_q116spec_${java.util.UUID.randomUUID().toString.take(8)}"
    parSweep(0 until 50) { k =>
      val p = Fuzz.vcfParams(k)
      val g = Fuzz.runVcfSeed(spark, base, p, root)
      assert(Seq(g.nTotal, g.nRegion, g.sumPos, g.sumAc, g.sumDp, g.sumEnd)
        === naiveVcf(p), s"seed $k diverged; params $p")
      assert(g.tbiEqCsi, s"seed $k: .tbi and .csi region rows differ; $p")
      assert(g.prunedParts <= g.fullParts,
        s"seed $k: pruned scan planned MORE partitions; $p")
    }
  }

  test("q116 gate shape: one row per seed, seeds ascending") {
    val rows = Fuzz.q116VcfFuzzGate(spark, "/root/testdata/sf0.001")
      .select("seed").as[Long].collect().toSeq
    assert(rows === (0L until Fuzz.VcfGateSeeds.toLong))
  }

  // --------------------------------------------------------- stream q117
  /** Pure-Scala model of one landing-sequence seed: distinct pairs,
    * file assignment and start arithmetic restated. */
  private def naiveStream(p: Fuzz.PS): (Long, Long) = {
    val recs = pairs.distinct
    (recs.size.toLong,
      recs.map { case (pk, sk) => (pk * p.m2 + sk * p.m1) % p.modN + 1 }.sum)
  }

  test("50-seed landing-sequence sweep: the stream's planner + readers " +
      "between seeded offsets equal the batch scan and the model " +
      "(restart point, gz mixes, splitsize crossings)") {
    import graft.sources.{SamDataSource, SamScan, TextSink}
    val root =
      s"/tmp/graft_q117spec_${java.util.UUID.randomUUID().toString.take(8)}"
    parSweep(0 until 50) { k =>
      val p = Fuzz.streamParams(k)
      val dir = s"$root/s$k"
      def land(i: Int): Unit = TextSink.write(Nil,
        Fuzz.streamFileLines(base, p, i), Fuzz.streamFilePath(dir, p, i))
      (0 until p.restartAt).foreach(land)
      // drive the stream surface directly (planner + readers, no engine
      // overhead): two batches split at the seeded restart point
      val ms = new SamScan(Seq(dir), Some(p.split.toLong), SamDataSource.schema, Nil)
        .toMicroBatchStream("")
      val o0 = ms.initialOffset()
      val o1 = ms.latestOffset()
      val parts1 = ms.planInputPartitions(o0, o1)
      (p.restartAt until p.nFiles).foreach(land)
      val o2 = ms.latestOffset()
      val parts2 = ms.planInputPartitions(o1, o2)
      val rf = ms.createReaderFactory()
      var n = 0L
      var ss = 0L
      (parts1 ++ parts2).foreach { part =>
        val r = rf.createReader(part)
        try {
          while (r.next()) {
            n += 1
            ss += r.get().getInt(4) // start (schema ordinal 4)
          }
        } finally r.close()
      }
      val (wantN, wantS) = naiveStream(p)
      assert((n, ss) === ((wantN, wantS)), s"seed $k diverged; params $p")
      // and the batch scan over the same landing dir agrees
      val b = spark.read.format("sam").option("splitsize", p.split)
        .load(dir).agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)),
          org.apache.spark.sql.functions.sum(col("start").cast("long")))
        .head
      assert((b.getLong(0), b.getLong(1)) === ((wantN, wantS)),
        s"seed $k batch diverged; params $p")
    }
  }

  test("q117 gate shape: one row per seed, seeds ascending, all checks " +
      "green at sf0.001") {
    val rows = Fuzz.q117StreamFuzzGate(spark, "/root/testdata/sf0.001")
      .select("seed", "stream_eq_batch", "offsets_ok", "refusal_ok")
      .collect()
    assert(rows.map(_.getLong(0)).toSeq ===
      (0L until Fuzz.StreamGateSeeds.toLong))
    rows.foreach { r =>
      assert(r.getBoolean(1) && r.getBoolean(2) && r.getBoolean(3),
        s"seed ${r.getLong(0)}: ${r.toString}")
    }
  }
}
