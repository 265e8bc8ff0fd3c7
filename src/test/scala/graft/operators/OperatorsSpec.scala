package graft.operators

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

/** Stand-in codecs for the decode-seam specs: emit constants trivially
  * distinguishable from the real WAV/PPM decoders, loaded through the same
  * `spark.graft.codec.audio` / `.image` Class.forName path a production
  * (library-backed) codec would use. */
class ConstAudioCodec extends AudioCodec {
  def decodeFrames(p: Array[Byte], windowSamples: Int,
      sampleEvery: Int): Array[AudioFrame] =
    if (p == null) null else Array(AudioFrame(0, 1, p.length.toLong, 7, 9L))
  def samples(p: Array[Byte]): Array[Int] =
    if (p == null) null else Array(p.length)
}

class ConstImageCodec extends ImageCodec {
  def decode(p: Array[Byte]): ImageStats =
    if (p == null) null
    else ImageStats(1, 1, p.length.toLong, 0L, 0L, 0, 0, 0, 0, 0, 0)
  def raster(p: Array[Byte]): ImageRaster =
    if (p == null) null
    else ImageRaster(1, 1, Array[Byte]((p.length % 256).toByte, 0, 0))
}

class ConstVideoCodec extends VideoCodec {
  def sampleFrames(p: Array[Byte], sampleEvery: Int): Array[VideoFrameStats] =
    if (p == null) null
    else Array(VideoFrameStats(0, 1, p.length.toLong, 7, 0L, 0L))
}

/** Smoke + invariants for the operator inventory over sf0.001. Value-level
  * correctness is enforced by the DuckDB oracle gate (scripts/
  * check_oracle.py); these specs pin the Spark-side invariants that the
  * oracle can't see (plan shape, determinism across runs, recall). */
class OperatorsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("every declared query runs and is deterministic across two runs") {
    // parallel across queries (parSweep): each query's two runs stay
    // sequential within its thread; gates isolate their state in
    // newSession() clones and per-query scratch paths by design.
    // Exception: x80 asserts a DELTA on the global Ld/Numt load counters
    // ("each shared dim loaded exactly once"), so it and the other
    // counter-incrementing mito pipeline gates run serially afterwards —
    // a concurrent x08/x09/x10 dim load would corrupt x80's delta.
    val dimCounterGates = Set("x80_cohort_gate", "x08_pipeline_gate",
      "x09_compressed_pipeline_gate", "x10_cv_gate")
    def check(name: String,
        fn: (org.apache.spark.sql.SparkSession, String) =>
          org.apache.spark.sql.DataFrame): Unit = {
      val n1 = fn(spark, sf).count()
      val n2 = fn(spark, sf).count()
      assert(n1 === n2, s"$name row count unstable")
    }
    parSweep(SparkEntry.queries.filterNot(q => dimCounterGates(q._1))) {
      case (name, fn) => check(name, fn)
    }
    SparkEntry.queries.filter(q => dimCounterGates(q._1))
      .foreach { case (name, fn) => check(name, fn) }
  }

  test("every oracle key has a matching query key") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("t07 curation funnel is monotone and dedup-consistent per language") {
    val rows = TextAnalysis.t07CurationPipeline(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, q, u, smp) = (r.getLong(1), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(n >= q && q >= u && u >= smp,
        s"${r.getString(0)}: funnel not monotone ($n >= $q >= $u >= $smp)")
    }
    // the pipeline's unique count across all languages equals d06's
    // standalone dedup when every doc passes quality — cross-check on the
    // subset relation instead: uniq total <= distinct content hashes
    val totalUniq = rows.map(_.getLong(4)).sum
    val distinctHashes = graft.Tables.documents(spark, sf)
      .select(md5(encode(col("text"), "UTF-8"))).distinct().count()
    assert(totalUniq <= distinctHashes)
  }

  test("d04 banded simhash == quadratic all-pairs (pigeonhole recall)") {
    // the 9-band candidate generation must lose NOTHING vs all-pairs at
    // hamming <= 8 (guaranteed recall), and add nothing (exact verify)
    val banded = Dedup.d04Simhash(spark, sf)
    val allPairs = Dedup.d04SimhashAllPairs(spark, sf)
    assert(banded.except(allPairs).isEmpty && allPairs.except(banded).isEmpty)
    assert(banded.count() === allPairs.count())
  }

  test("d04 finds a planted near-duplicate without a language block") {
    import spark.implicits._
    import graft.functions.TextFns
    // two docs, 200 shared tokens, one token differs -> tiny hamming;
    // plus one unrelated doc
    val base = (1 to 200).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, base + " ending"),
      (2L, base + " endinh"), // near-dup of 1, different "lang" would've blocked it
      (3L, (1 to 200).map(i => s"other$i").mkString(" "))
    ).toDF("doc_id", "text")
    val sh = docs.select(col("doc_id"),
      TextFns.simhash64(TextFns.tokens(col("text"))).as("sh"))
    val pairs = sh.as("a").crossJoin(sh.as("b"))
      .where(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).as("hamming"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs((1L, 2L)) <= 8, s"planted near-dup too far: ${pairs((1L, 2L))}")
    assert(pairs((1L, 3L)) > 8 && pairs((2L, 3L)) > 8)
  }

  test("salted skew join executes as a shuffle join spread over salts") {
    val df = Relational.q31SaltedSkewJoin(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // the merge hint must defeat broadcast so the salt spread is real
    assert(plan.contains("SortMergeJoin"), plan.take(2000))
    assert(!plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(df.count() > 0)
  }

  test("broadcast dims query plans a BroadcastHashJoin, not a shuffle join") {
    val plan = Relational.q06BroadcastDims(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("filter+projection are pushed into the parquet scan") {
    val plan = Relational.q02FilterProject(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_returnflag)"), plan.take(2000))
    // pruned read schema: only the 4 needed columns
    assert(!plan.contains("l_shipdate"), "unused column not pruned")
  }

  test("minhash LSH finds planted near-duplicates") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    val docs = (Seq(
      (1L, base, "en", "s0", base.length.toLong),
      (2L, base + " x", "en", "s0", base.length + 2L),  // near-dup of 1
      (3L, base.replace("quick", "slow"), "en", "s0", base.length.toLong)) ++
      (4L to 20L).map(i => (i, s"completely different text number $i with its own unrelated words ${i * 31}", "en", "s0", 50L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("mh").toString
    docs.write.mode("overwrite").parquet(tmp + "/documents.parquet")
    val pairs = Dedup.d03MinhashLsh(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)), s"planted near-dup not found: ${pairs.toSeq}")
  }

  test("d03 runs with broadcast joins disabled (threshold -1)") {
    // broadcastIfSmall reads the session's threshold; -1 is legal and means
    // "never broadcast", so the staged build side goes unhinted
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import s.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    val docs = (Seq((1L, base), (2L, base + " x")) ++
      (3L to 10L).map(i => (i, s"unrelated text number $i with words ${i * 31}")))
      .toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("s0").as("source"), length(col("text")).cast("long").as("n_chars"))
    val tmp = java.nio.file.Files.createTempDirectory("mh-1").toString
    docs.write.mode("overwrite").parquet(tmp + "/documents.parquet")
    val pairs = Dedup.d03MinhashLsh(s, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)), pairs.toSeq)
  }

  test("ANN (s02 LSH, s04 IVF) recall vs brute force (s01) is reasonable") {
    val exact = Similarity.s01KnnBrute(spark, sf)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.s02AnnLsh(spark, sf)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.s04AnnIvf(spark, sf)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lshRecall = (exact & lsh).size.toDouble / exact.size
    val ivfRecall = (exact & ivf).size.toDouble / exact.size
    assert(lshRecall > 0.2, s"LSH recall $lshRecall collapsed")
    assert(ivfRecall > 0.3, s"IVF recall $ivfRecall collapsed")
  }

  test("s07 bucketed IVF scans only the probed cell partitions") {
    val df = Similarity.ivfBucketedTopK(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // the probed-cell isin must reach the bucketed scan as PARTITION
    // filters (pruned directories), not as a post-scan row filter
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      plan.take(3000))
    // and the bucketed formulation returns exactly the join formulation
    val viaJoin = Similarity.s04AnnIvf(spark, sf)
    assert(df.except(viaJoin).isEmpty && viaJoin.except(df).isEmpty)
  }

  test("q01 aggregation is partial (map-side) + final — two HashAggregate levels") {
    val plan = Relational.q01PricingSummary(spark, sf)
      .queryExecution.executedPlan.toString
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan.take(1500))
  }

  test("x01 pair scoring broadcasts the supplier dim (fact side never builds)") {
    val plan = MitoQueries.x01PairScore(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
  }

  test("winnowing fingerprint is shift-robust where rolling window allows") {
    import spark.implicits._
    val a = "abcdefghijklmnopqrstuvwxyz0123456789abcdefghij"
    val docs = Seq((1L, a, "en", "s", 1L), (2L, a, "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("fp").toString
    docs.write.mode("overwrite").parquet(tmp + "/documents.parquet")
    val rows = TextAnalysis.t04Fingerprint(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(rows(0)._2 === rows(1)._2) // identical docs -> identical fingerprints
    assert(rows(0)._3 === rows(1)._3)
  }

  test("d11 wired pipeline: removes exact dups, keeps sub-threshold docs, monotone") {
    import spark.implicits._
    // distinct docs are seeded-random letter strings: cross-doc character
    // 3-gram overlap is negligible, so only the planted dup is removable
    def randomDoc(seed: Long): String = {
      val rnd = new scala.util.Random(seed)
      (1 to 60).map(_ => rnd.alphanumeric.take(8).mkString).mkString(" ")
    }
    val base = randomDoc(1L)
    val docs = (Seq((1L, base), (2L, base)) ++ // 2 = exact dup of 1 -> removed
      (3L to 30L).map(i => (i, randomDoc(i * 7919L))))
      .toDF("doc_id", "text")
    val kept = Dedup.nearDedupKeep(docs, 0.8).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(!kept.contains(2L), "exact duplicate must be removed")
    assert(kept.contains(1L), "lowest-id of a dup pair must survive")
    assert((3L to 30L).forall(kept.contains), "sub-threshold docs must survive")
    // precision is deterministic (exact verify): a stricter threshold never
    // removes more
    val keptStrict = Dedup.nearDedupKeep(docs, 0.99).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept.subsetOf(keptStrict))
  }

  test("t08 decontamination flags every planted eval copy with full gram overlap") {
    val out = TextAnalysis.t08Decontaminate(spark, sf)
    // the small eval-gram set must broadcast; the corpus side never builds
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    val flagged = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val evalDocs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
      .orderBy(col("doc_id").asc).limit(20).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    evalDocs.foreach { case (id, text) =>
      assert(!flagged.contains(id), s"eval doc $id must not be in the output")
      // a planted exact copy shares exactly its distinct 32-gram set
      val nGrams = if (text.length < 32) 0
        else (0 to text.length - 32).map(i => text.substring(i, i + 32)).distinct.size
      if (nGrams > 0)
        assert(flagged.get(id + 1000000000L).contains(nGrams.toLong),
          s"planted copy of $id: expected $nGrams shared grams, " +
            s"got ${flagged.get(id + 1000000000L)}")
    }
  }

  test("t08 decontamination: sub-gram-length docs contribute no grams") {
    import spark.implicits._
    val long1 = "the quick brown fox jumps over the lazy dog again and again tonight"
    val long2 = "a completely different sentence that shares no thirtytwo char run x"
    val docs = Seq(
      (1L, "tiny text", "en", "s", 9L), // < 32 chars -> zero grams
      (2L, long1, "en", "s", long1.length.toLong),
      (3L, long2, "en", "s", long2.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("dc").toString
    docs.write.mode("overwrite").parquet(tmp + "/documents.parquet")
    // eval = all 3 docs; train side = the 3 planted copies
    val flagged = TextAnalysis.t08Decontaminate(spark, tmp)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!flagged.contains(1000000001L), "short doc has no grams to share")
    assert(flagged(1000000002L) === (long1.length - 31).toLong)
    assert(flagged(1000000003L) === (long2.length - 31).toLong)
  }

  test("t08 hashed gram probe flags the same docs as the string formulation") {
    // the production path probes on xxhash64(gram); it must reproduce the
    // string-gram reference (and the oracle, which restates the strings)
    // exactly — same flagged docs, same per-doc shared-gram counts
    val hashed = TextAnalysis.t08Decontaminate(spark, sf)
    val str = TextAnalysis.t08DecontaminateStr(spark, sf)
    assert(hashed.except(str).isEmpty && str.except(hashed).isEmpty)
    assert(hashed.count() > 0)
  }

  test("t09 histogram-cutoff budget fill == flat per-language window") {
    // the scale-safe two-phase formulation must reproduce the flat window
    // EXACTLY (same technique-equivalence contract as d04 banded==all-pairs)
    val hist = TextAnalysis.t09TokenBudget(spark, sf)
    val flat = TextAnalysis.t09TokenBudgetFlat(spark, sf)
    assert(hist.except(flat).isEmpty && flat.except(hist).isEmpty)
    val rows = hist.collect()
    assert(rows.nonEmpty)
    // the fill never exceeds the budget
    rows.foreach(r => assert(r.getLong(2) <= 15000L,
      s"${r.getString(0)}: kept ${r.getLong(2)} tokens > budget"))
  }

  test("t09 histogram==flat at adversarial budgets (tiny, boundary-heavy, huge)") {
    // tiny: smaller than the largest doc (some languages keep nothing);
    // mid: exercises boundary buckets everywhere; huge: keeps everything
    Seq(10L, 700L, 100000000L).foreach { b =>
      val hist = TextAnalysis.t09TokenBudget(spark, sf, b)
      val flat = TextAnalysis.t09TokenBudgetFlat(spark, sf, b)
      assert(hist.except(flat).isEmpty && flat.except(hist).isEmpty,
        s"budget $b: formulations diverge")
    }
  }

  test("t09 two-level cutoff survives a length-quantized corpus (skew guard)") {
    import spark.implicits._
    // every doc has the SAME n_chars — the (lang, n_chars) boundary bucket
    // IS the whole language, the exact funnel the histogram phase exists
    // to avoid; the doc_id-range sub-level must (a) keep the fill exact
    // vs the flat window and (b) bound every window partition at
    // 2^subShift docs
    val docs = (1L to 500L).map { i =>
      val text = (1 to (i % 7 + 3).toInt).map(k => s"w$k").mkString(" ")
      (i, text, if (i % 2 == 0) "en" else "de", "s", 4096L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("t09q").toString
    docs.write.mode("overwrite").parquet(tmp + "/documents.parquet")
    Seq(50L, 500L, 1000000L).foreach { b =>
      val hist = TextAnalysis.t09TokenBudget(spark, tmp, b, subShift = 4)
      val flat = TextAnalysis.t09TokenBudgetFlat(spark, tmp, b)
      assert(hist.except(flat).isEmpty && flat.except(hist).isEmpty,
        s"budget $b: two-level cutoff diverges on quantized corpus")
    }
    // the invariant the window relies on: with distinct ids, no
    // (lang, n_chars, doc_id >> 4) group — hence no window partition —
    // holds more than 2^4 docs
    val maxGroup = docs
      .groupBy(col("lang"), col("n_chars"), shiftrightunsigned(col("doc_id"), 4))
      .count().agg(max("count")).head.getLong(0)
    assert(maxGroup <= 16L)
  }

  test("q36 streaming incremental dedup equals the batch anti-join count") {
    val r = Relational.q36StreamDedupGate(spark, sf).head
    // batch truth: distinct content hashes absent from the even-id half
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), md5(encode(col("text"), "UTF-8")).as("h"))
    val hist = docs.where(col("doc_id") % 2 === 0).select("h").distinct()
    val expected = docs.join(hist, Seq("h"), "left_anti")
      .select("h").distinct().count()
    assert(r.getLong(0) === expected)
    assert(r.getLong(1) === expected) // dropDuplicates kept one row per hash
    assert(r.getLong(2) === 0L && r.getBoolean(3))
    assert(expected > 0L)
  }

  test("q37 streaming sessions match batch and the gaps-and-islands count") {
    val r = Relational.q37StreamSessionGate(spark, sf).head
    assert(r.getBoolean(2), "streamed sessions must equal batch session_window")
    // independent truth: q21's gaps-and-islands split (> 30 min -> new)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"))
    val expected = graft.Tables.events(spark, sf)
      .withColumn("gap_us",
        unix_micros(col("ts").cast("timestamp")) -
          unix_micros(lag(col("ts"), 1).over(w).cast("timestamp")))
      .select(sum(when(col("gap_us").isNull ||
        col("gap_us") > 1800L * 1000000L, 1L).otherwise(0L)).as("n"))
      .head.getLong(0)
    assert(r.getLong(0) === expected)
    assert(expected > 0L)
  }

  test("q38 stream-stream join equals the batch range join exactly") {
    val r = Relational.q38StreamJoinGate(spark, sf).head
    val ev = graft.Tables.events(spark, sf)
      .where(col("user_id") % 8 === 0)
      .select(col("event_id"), col("user_id"), col("ts"))
    val l = ev.select(col("event_id").as("l_id"), col("user_id"),
      col("ts").as("l_ts"))
    val rt = ev.select(col("event_id").as("r_id"),
      col("user_id").as("r_user"), col("ts").as("r_ts"))
    val batch = l.join(rt, col("user_id") === col("r_user") &&
        col("r_ts") >= col("l_ts") - expr("INTERVAL 1 HOUR") &&
        col("r_ts") <= col("l_ts"))
      .agg(count(lit(1)), count_distinct(col("l_id")),
        sum(col("l_id") * 3 + col("r_id"))).head
    assert(r.getLong(0) === batch.getLong(0))
    assert(r.getLong(1) === batch.getLong(1))
    assert(r.getLong(2) === batch.getLong(2))
    assert(r.getLong(0) > 0L)
  }

  test("q39 flatMapGroupsWithState accumulates across the two replayed batches") {
    val r = Relational.q39StreamStateGate(spark, sf).head
    val ev = graft.Tables.events(spark, sf)
    assert(r.getLong(0) === ev.select("user_id").distinct().count())
    assert(r.getLong(1) === 2L * ev.count())
    assert(r.getBoolean(2),
      "per-user final state diverged from 2x the batch aggregate")
  }

  test("d19 streaming near-dup screen: planted drops + batch equivalence") {
    val r = Dedup.d19StreamNearDupGate(spark, sf).head
    assert(r.getLong(0) === 20L)  // n_planted
    assert(r.getLong(1) === 0L,   // every planted copy screened out
      "a planted exact copy of a history doc survived the stream screen")
    assert(r.getBoolean(2),
      "micro-batched screen diverged from the batch formulation")
  }

  test("d19 streaming plan: every join is stream-static, no stream-stream state") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import graft.functions.TextFns
    val src = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val streamIn = src.toDF().toDF("doc_id", "text")
    val histDocs = Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val shHist = histDocs
      .select(col("doc_id"), TextFns.shingleHashes(col("text"), 3).as("sh"))
      .withColumn("n_sh", size(col("sh")))
    val histBands = shHist
      .withColumn("sig", TextFns.minhashSignature(col("sh"), 32))
      .select(col("doc_id").as("h_id"),
        explode(TextFns.lshBands(col("sig"), 32, 8)).as("b"))
      .select(col("b.band").as("band"), col("b.key").as("key"), col("h_id"))
    val histSh = shHist.select(col("doc_id").as("h_id"),
      col("sh").as("h_sh"), col("n_sh").as("h_n"))
    val verdicts = Dedup.nearDupScreenVerdicts(streamIn, histBands, histSh, 0.8)
    assert(verdicts.isStreaming)
    // the shingle array rides through the band explode instead of being
    // re-joined, so NO join may have two streaming sides — the property
    // that keeps d19's state at the max-J aggregate only
    val joins = verdicts.queryExecution.analyzed.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.nonEmpty)
    joins.foreach { j =>
      assert(!(j.left.isStreaming && j.right.isStreaming),
        "found a stream-stream join in the d19 screen plan")
    }
  }

  test("d14 bloom-prefiltered dedup: exact keep set on known cross-half dups") {
    import spark.implicits._
    // odd ids 7 and 9 duplicate even ids 2 and 4; odd 11 duplicates odd 13
    // (within-incoming dup -> BOTH kept: this formulation dedups against
    // history only); all other docs unique
    def doc(seed: Long): String = {
      val rnd = new scala.util.Random(seed)
      (1 to 40).map(_ => rnd.alphanumeric.take(6).mkString).mkString(" ")
    }
    val texts = Map(2L -> doc(2), 4L -> doc(4), 11L -> doc(999), 13L -> doc(999),
      7L -> doc(2), 9L -> doc(4))
    val docs = (1L to 20L)
      .map(i => (i, texts.getOrElse(i, doc(i * 31L)), "en", "s", 200L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("d14").toString
    docs.write.mode("overwrite").parquet(tmp + "/documents.parquet")
    val r = Dedup.d14BloomDedupGate(spark, tmp).head
    // 10 odd docs, minus 7 and 9 (dups of history) = 8 kept; 11/13 stay
    assert(r.getLong(0) === 8L)
    assert(r.getBoolean(1), "bloom path diverged from the exact anti-join")
  }

  test("d15 semantic dedup: removes in-cluster near-dups, keeps the rest") {
    import spark.implicits._
    // 24 well-spread seeded unit vectors + an exact copy of vec 1 (id 90)
    // and a tiny perturbation of vec 2 (id 91, cosine ~0.9999): both must
    // be removed; every original survives (originals have the lower ids)
    def vec(seed: Long): Array[Float] = {
      val rnd = new scala.util.Random(seed)
      val v = Array.fill(8)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x * x).sum).toFloat
      v.map(_ / n)
    }
    val base = (1L to 24L).map(i => (i, vec(i * 7919L), 0))
    val near = vec(2 * 7919L); near(0) = near(0) + 1e-4f
    val rows = base ++ Seq((90L, vec(1 * 7919L), 0), (91L, near, 0))
    val tmp = java.nio.file.Files.createTempDirectory("d15").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(tmp + "/embeddings.parquet")
    val kept = Dedup.semanticDedupKeep(spark,
        tmp, graft.Tables.embeddings(spark, tmp), 0.999)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(!kept.contains(90L), "exact copy must be removed")
    assert(!kept.contains(91L), "near-identical vector must be removed")
    assert((1L to 24L).forall(kept.contains), "originals must survive")
  }

  test("t10 PII redaction: planted PII found and scrubbed, counts exact") {
    val out = TextAnalysis.t10PiiRedact(spark, sf)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
      .orderBy(col("doc_id").asc).limit(20).collect()
    assert(docs.nonEmpty)
    docs.foreach { r =>
      val id = r.getLong(0)
      val (ne, np, redMd5) = out(id + 1000000000L)
      assert(ne === 1L && np === 1L, s"planted doc $id: counts ($ne, $np)")
      // the redaction really replaced the match: the redacted text's md5
      // equals md5(original + placeholder-suffix), computed independently
      val expected = java.security.MessageDigest.getInstance("MD5")
        .digest((r.getString(1) +
          " contact me at <EMAIL> or <PHONE> now").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(redMd5 === expected, s"planted doc $id: redaction mismatch")
    }
  }

  test("t11 top-bigram fraction: hand-checked values and bounds") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b a", "en", "s", 9L),        // bigrams ab ba ab ba -> 2/4
      (2L, "x y x y x y x y", "en", "s", 15L), // xy 4 of 7
      (3L, "p q r s t", "en", "s", 9L),        // all distinct -> 1/4
      (4L, "solo", "en", "s", 4L))             // < 2 tokens -> excluded
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("t11").toString
    docs.write.mode("overwrite").parquet(tmp + "/documents.parquet")
    val got = TextAnalysis.t11Repetition(spark, tmp)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(got(1L) === ((4L, 0.5)))
    assert(got(2L) === ((7L, math.rint(4.0 / 7 * 1e6) / 1e6)))
    assert(got(3L) === ((4L, 0.25)))
    assert(!got.contains(4L))
    // corpus-wide bounds: every fraction in (0, 1]
    val all = TextAnalysis.t11Repetition(spark, sf).collect()
    assert(all.nonEmpty)
    all.foreach(r => assert(r.getDouble(3) > 0.0 && r.getDouble(3) <= 1.0))
  }

  test("t10/t11 are zero-shuffle narrow scans (only the final sort exchanges)") {
    // the per-row statistic must stay per-row: no hash-partitioned
    // exchange anywhere in either plan — the only allowed exchange is the
    // range partitioning of the presentation orderBy
    Seq("t10" -> TextAnalysis.t10PiiRedact(spark, sf),
      "t11" -> TextAnalysis.t11Repetition(spark, sf)).foreach { case (n, df) =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("hashpartitioning"),
        s"$n shuffles on a hash key:\n${plan.take(2000)}")
    }
  }

  test("d12 connected components are partitioning-invariant") {
    import spark.implicits._
    val pairs = ((1L to 9L).map(i => (i, i + 1)) ++ Seq((50L, 60L)))
      .toDF("a_id", "b_id")
    val base = Dedup.connectedComponents(pairs).collect().toSeq
    val shuffled = Dedup.connectedComponents(pairs.repartition(7)).collect().toSeq
    assert(base.sortBy(_.getLong(0)) === shuffled.sortBy(_.getLong(0)))
  }

  test("d12 connected components: chains, forests, empty graph") {
    import spark.implicits._
    // a 10-node chain (worst-case diameter), a separate 2-clique, an
    // isolated pair — min-label propagation must label every node with
    // its component's minimum id
    val chain = (1L to 9L).map(i => (i, i + 1))
    val pairs = (chain ++ Seq((100L, 101L), (200L, 300L))).toDF("a_id", "b_id")
    val got = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (1L to 10L).foreach(n => assert(got(n) === 1L, s"chain node $n"))
    assert(got(100L) === 100L && got(101L) === 100L)
    assert(got(200L) === 200L && got(300L) === 200L)
    assert(got.size === 14)
    // empty edge list -> empty labeling, converges immediately
    val empty = Dedup.connectedComponents(
      Seq.empty[(Long, Long)].toDF("a_id", "b_id"))
    assert(empty.count() === 0L)
    // duplicate edges and self-loops are tolerated, not double-counted:
    // same clusters as the clean edge list
    val noisy = (chain ++ chain ++ Seq((5L, 5L), (100L, 101L), (101L, 100L),
      (200L, 300L))).toDF("a_id", "b_id")
    val gotNoisy = Dedup.connectedComponents(noisy)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotNoisy === got)
  }

  test("d13 cluster wiring: copies of copies land in one cluster (transitivity)") {
    import spark.implicits._
    // seeded-random docs (d11 technique): cross-doc shingle overlap is
    // negligible, so the only edges are the planted copy chains
    def randomDoc(seed: Long): String = {
      val rnd = new scala.util.Random(seed)
      (1 to 60).map(_ => rnd.alphanumeric.take(8).mkString).mkString(" ")
    }
    val off = 1000000000L
    val docs = ((1L to 10L).map(i => (i, randomDoc(i * 104729L))) ++
      Seq((1L + off, randomDoc(1 * 104729L)),       // copy of 1
        (1L + 2 * off, randomDoc(1 * 104729L)),     // copy of the copy
        (5L + off, randomDoc(5 * 104729L))))        // single copy of 5
      .toDF("doc_id", "text")
    val got = Dedup.nearDupClusters(docs, 0.8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // chain {1, 1+off, 1+2off} is one cluster labeled by the minimum id
    assert(got(1L) === 1L && got(1L + off) === 1L && got(1L + 2 * off) === 1L)
    assert(got(5L) === 5L && got(5L + off) === 5L)
    // non-dup docs never enter the dup graph
    assert(got.size === 5)
  }

  test("d12 oracle edges and LSH-wired edges agree on an exact-dup corpus") {
    import spark.implicits._
    // on a corpus whose only near-dups are exact copies, the block-nested
    // oracle generator and the banded LSH generator must produce the SAME
    // clusters (LSH recall on exact copies is guaranteed)
    def randomDoc(seed: Long): String = {
      val rnd = new scala.util.Random(seed)
      (1 to 60).map(_ => rnd.alphanumeric.take(8).mkString).mkString(" ")
    }
    val docs = ((1L to 12L).map(i => (i, randomDoc(i * 7919L))) ++
      Seq((21L, randomDoc(3 * 7919L)), (22L, randomDoc(3 * 7919L)),
        (23L, randomDoc(7 * 7919L))))
      .toDF("doc_id", "text")
    val viaLsh = Dedup.nearDupClusters(docs, 0.8)
    val viaExact = Dedup.connectedComponents(
      Dedup.verifiedNearDupPairs(docs, 0.8))
    assert(viaLsh.except(viaExact).isEmpty && viaExact.except(viaLsh).isEmpty)
    val got = viaLsh.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(3L) === 3L && got(21L) === 3L && got(22L) === 3L)
    assert(got(7L) === 7L && got(23L) === 7L)
  }

  test("d12 CC converges in O(log d) rounds on a long chain (pointer doubling)") {
    import spark.implicits._
    // a 400-node path: min-label propagation alone needs ~400 rounds and
    // would trip the 100-round backstop; the label-shortcut must collapse
    // it (2^100 ≫ any physical diameter)
    val pairs = (1L to 399L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val got = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === 400)
    assert(got.values.forall(_ === 1L))
  }

  test("d12 CC: reliable-checkpoint conf produces identical clusters") {
    import spark.implicits._
    val pairs = ((1L to 9L).map(i => (i, i + 1)) ++ Seq((50L, 60L), (60L, 70L)))
      .toDF("a_id", "b_id")
    val base = Dedup.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val dir = java.nio.file.Files.createTempDirectory("ccckpt").toString
    spark.conf.set("spark.graft.checkpointDir", dir)
    try {
      val reliable = Dedup.connectedComponents(pairs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(reliable === base)
      // the reliable path really did write checkpoint data
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(wrote > 0, "no reliable checkpoint files written")
    } finally spark.conf.unset("spark.graft.checkpointDir")
  }

  test("d16 representatives: argmax by n_chars desc, ties to lowest doc_id") {
    import spark.implicits._
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("doc_id", "cluster_id")
    val chars = Seq((1L, 100L), (2L, 300L), (3L, 300L), (10L, 50L), (11L, 50L))
      .toDF("doc_id", "n_chars")
    val got = Dedup.clusterRepresentatives(labels, chars)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    // cluster 1: 2 and 3 tie at 300 chars -> lower id 2 wins, not label 1
    assert(got === Array((1L, 2L, 3L), (10L, 10L, 2L)))
  }

  test("d16 clusterRepKeep keeps the LONGEST member, uniques untouched") {
    import spark.implicits._
    def randomDoc(seed: Long): String = {
      val rnd = new scala.util.Random(seed)
      (1 to 60).map(_ => rnd.alphanumeric.take(8).mkString).mkString(" ")
    }
    // doc 30 = doc 4's text twice: shingle SET nearly unchanged (J ~ 1)
    // but twice the length -> the rep, displacing lower-id 4
    val t4 = randomDoc(4 * 7919L)
    val docs = ((1L to 10L).map(i => (i, randomDoc(i * 7919L))) ++
      Seq((21L, randomDoc(3 * 7919L)),   // same-length copy of 3
        (30L, t4 + " " + t4)))           // longer near-dup of 4
      .toDF("doc_id", "text")
    val kept = Dedup.clusterRepKeep(docs, 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val uniques = Set(1L, 2L, 5L, 6L, 7L, 8L, 9L, 10L)
    assert(kept === uniques + 3L + 30L,
      s"kept $kept: cluster {3,21} -> 3 (tie, lower id); {4,30} -> 30 (longer)")
  }

  test("t12 keywords: rational-idf top-k against a hand-computed corpus") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("t12docs").toString
    Seq((1L, "apple banana apple cherry"),
      (2L, "banana banana date"),
      (3L, "apple date date date"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.t12Keywords(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    // N=3; df: apple 2, banana 2, cherry 1, date 2
    // idf ratio: df=2 -> 1.5/2.5 = 0.6; df=1 -> 2.5/1.5
    assert(got === Array(
      (1L, 1L, "cherry", 1L, 1L, 2.5 / 1.5),
      (1L, 2L, "apple", 2L, 2L, 2.0 * 0.6),
      (1L, 3L, "banana", 1L, 2L, 0.6),
      (2L, 1L, "banana", 2L, 2L, 2.0 * 0.6),
      (2L, 2L, "date", 1L, 2L, 0.6),
      (3L, 1L, "date", 3L, 2L, 3.0 * 0.6),
      (3L, 2L, "apple", 1L, 2L, 0.6)))
  }

  test("t12 keywords match a naive in-memory reference on the sf corpus") {
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val n = docs.size.toDouble
    val tf = docs.map { case (id, t) =>
      id -> t.trim.toLowerCase.split("\\s+").toSeq
        .groupBy(identity).map { case (k, v) => k -> v.size } }
    val dfm = tf.values.flatMap(_.keys).groupBy(identity)
      .map { case (k, v) => k -> v.size }
    val expected = tf.flatMap { case (id, m) =>
      m.toSeq.map { case (term, f) =>
        val d = dfm(term).toDouble
        (id, term, f, dfm(term), f.toDouble * ((n - d + 0.5) / (d + 0.5)))
      }.sortBy { case (_, term, _, _, s) => (-s, term) }.take(3)
        .zipWithIndex.map { case ((i, t, f, d, s), rk) =>
          (i, rk + 1L, t, f.toLong, d.toLong, s) }
    }.toSet
    val got = TextAnalysis.t12Keywords(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).toSet
    assert(got === expected)
  }

  test("s08 PQ gate: planted-copy min-ADC, recon and recall floors hold") {
    val row = Similarity.s08PqGate(spark, sf).collect()
    assert(row.length === 1)
    val r = row(0)
    assert(r.getLong(0) === 10L)
    assert(r.getBoolean(1), "a planted exact copy did not achieve min ADC")
    assert(r.getBoolean(2), "reconstruction cosine below floor")
    assert(r.getBoolean(3), "ADC recall@5 below floor")
  }

  test("s08 PQ encode + ADC match a naive in-memory reference") {
    // the declarative HOF argmin/LUT/lookup pipeline vs a plain Scala
    // reimplementation from the same codebooks, over real vectors
    val cb = Similarity.pqCodebooks(spark, sf) // [m][k][sub]
    val vecs = graft.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def sub(v: Array[Float], m: Int): Array[Double] =
      v.slice(m * 8, m * 8 + 8).map(_.toDouble)
    def d2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, c)) =>
        acc + (x - c) * (x - c) }
    def naiveCodes(v: Array[Float]): Array[Int] =
      (0 until 8).map { m =>
        val ds = cb(m).map(c => d2(sub(v, m), c))
        ds.indexOf(ds.min)
      }.toArray
    def naiveAdc(q: Array[Float], codes: Array[Int]): Double =
      (0 until 8).map(m => d2(sub(q, m), cb(m)(codes(m)))).sum
    import org.apache.spark.sql.functions.col
    val cbCol = {
      // private cbLit equivalent: rebuild via the public surface
      import org.apache.spark.sql.functions.{array, lit}
      array(cb.map(m => array(m.map(k =>
        array(k.map(lit): _*)): _*)): _*)
    }
    val got = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), Similarity.pqCodes(col("embedding"), cbCol).as("codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toArray).toMap
    vecs.foreach { case (id, v) =>
      assert(got(id).sameElements(naiveCodes(v)), s"codes differ for vec $id")
    }
    // the native codegen'd kernel must match the HOF formulation bit-for-bit
    val viaHof = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), Similarity.pqCodesHof(col("embedding"), cbCol).as("codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toArray).toMap
    vecs.keys.foreach { id =>
      assert(got(id).sameElements(viaHof(id)), s"native != HOF for vec $id")
    }
    // ADC for query 0 against five corpus vectors
    val q0 = vecs(0L)
    val lutRow = graft.Tables.embeddings(spark, sf)
      .where(col("vec_id") === 0)
      .select(Similarity.pqLut(col("embedding"), cbCol).as("lut"))
      .withColumn("probe", org.apache.spark.sql.functions.array(
        (10L to 14L).map(org.apache.spark.sql.functions.lit): _*))
      .select(org.apache.spark.sql.functions.explode(col("probe")).as("n_id"),
        col("lut"))
    val adcGot = lutRow
      .join(graft.Tables.embeddings(spark, sf)
        .select(col("vec_id").as("n_id"),
          Similarity.pqCodes(col("embedding"), cbCol).as("codes")), Seq("n_id"))
      .select(col("n_id"), Similarity.adc(col("lut"), col("codes")).as("a"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    (10L to 14L).foreach { id =>
      assert(adcGot(id) === naiveAdc(q0, naiveCodes(vecs(id))),
        s"ADC differs for corpus vec $id")
    }
  }

  test("d17 rep-keep gate: planting exact copies is a no-op on the kept set") {
    val r = Dedup.d17RepKeepGate(spark, sf).collect()
    assert(r.length === 1)
    assert(r(0).getLong(0) === 20L)
    assert(r(0).getLong(1) === 0L, "a planted copy survived rep-keep")
    assert(r(0).getBoolean(2), "planting changed the kept set")
  }

  test("t13 corpus stats: known-dup fixture yields the exact dup rate") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("t13docs").toString
    Seq((1L, "aa bb cc", "en", "s0", 8L), (2L, "aa bb cc", "en", "s0", 8L),
      (3L, "dd ee", "en", "s0", 5L), (4L, "ff gg hh ii", "fr", "s1", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.t13CorpusStats(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6)))
    assert(got === Array(
      ("en", "s0", 3L, 2L, 8L, 7.0, 0.333333),
      ("fr", "s1", 1L, 1L, 4L, 11.0, 0.0)))
  }

  test("t12 plan: top-k rank is pruned below the window (WindowGroupLimit)") {
    // rank<=3 must reach the window operator as a group-limit, so each
    // doc partition sorts only its running top-3, not every term
    val plan = TextAnalysis.t12Keywords(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"rank filter not pushed into the window:\n${plan.take(1500)}")
  }

  test("d16 representatives match a naive reference on seeded random forests") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260813L)
    for (_ <- 1 to 5) {
      val nodes = (1L to 40L).filter(_ => rnd.nextBoolean())
      val labels = nodes.map(n => (n, n % 7)) // 7 clusters
      val chars = nodes.map(n => (n, (rnd.nextInt(5) + 1).toLong))
      val expected = labels.groupBy(_._2).map { case (cl, members) =>
        val cm = members.map(_._1).map(n => n -> chars.toMap.apply(n))
        val rep = cm.minBy { case (id, nc) => (-nc, id) }._1
        (cl, rep, members.size.toLong)
      }.toSet
      val got = Dedup.clusterRepresentatives(
        labels.toDF("doc_id", "cluster_id"), chars.toDF("doc_id", "n_chars"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === expected)
    }
  }

  test("d18 incremental keep: history dups and in-batch chains drop, uniques survive") {
    import spark.implicits._
    def randomDoc(seed: Long): String = {
      val rnd = new scala.util.Random(seed)
      (1 to 60).map(_ => rnd.alphanumeric.take(8).mkString).mkString(" ")
    }
    val hist = (1L to 10L).map(i => (i, randomDoc(i * 7919L))).toDF("doc_id", "text")
    // 11 dups history doc 3; 12 is new; 13 dups 12 (in-batch chain); 14 new
    val inc = Seq((11L, randomDoc(3 * 7919L)), (12L, randomDoc(777L)),
      (13L, randomDoc(777L)), (14L, randomDoc(888L))).toDF("doc_id", "text")
    val kept = Dedup.incrementalNearDedupKeep(inc, hist, 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(12L, 14L))
    // equality with the batch formulation on the same corpus
    val batch = Dedup.nearDedupKeep(hist.union(inc), 0.8)
      .where($"doc_id" >= 11L).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === batch)
    // overlapping id ranges are rejected loudly
    val ex = intercept[IllegalArgumentException] {
      Dedup.incrementalNearDedupKeep(hist, inc, 0.8)
    }
    assert(ex.getMessage.contains("disjoint id ranges"))
  }

  test("d18 gate booleans hold on the sf corpus") {
    val r = Dedup.d18IncrDedupGate(spark, sf).collect()
    assert(r.length === 1)
    assert(r(0).getLong(0) === 20L)
    assert(r(0).getLong(1) === 0L, "a planted copy survived incremental dedup")
    assert(r(0).getBoolean(2), "incremental kept set diverged from batch")
  }

  test("d18 gate fails descriptively on an empty corpus (no NPE)") {
    import spark.implicits._
    // an empty documents table: max(doc_id) is NULL — the gate must raise
    // a descriptive require, not a NullPointerException (ADVICE r7)
    val tmp = java.nio.file.Files.createTempDirectory("d18empty").toString
    Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    val ex = intercept[IllegalArgumentException] {
      Dedup.d18IncrDedupGate(spark, tmp).collect()
    }
    assert(ex.getMessage.contains("non-empty"), ex.getMessage)
  }

  test("t14 seq-pack: two-level prefix sum equals the flat global window") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val flat = graft.Tables.documents(spark, sf)
      .select($"doc_id",
        org.apache.spark.sql.functions.size(
          graft.functions.TextFns.tokens($"text")).cast("long").as("n_tok"))
      .where($"n_tok" > 0)
      .withColumn("tok_offset", sum($"n_tok").over(
        Window.orderBy($"doc_id".asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)) - $"n_tok")
      .select($"doc_id", $"n_tok", $"tok_offset",
        expr("tok_offset div 2048").as("first_seq"),
        expr("(tok_offset + n_tok - 1) div 2048").as("last_seq"))
    val got = TextAnalysis.t14SeqPack(spark, sf)
    assert(got.exceptAll(flat).isEmpty && flat.exceptAll(got).isEmpty)
  }

  test("t14 seq-pack: sparse ids across blocks, hand-computed chunk spans") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("t14docs").toString
    def words(n: Int): String = Seq.fill(n)("w").mkString(" ")
    // ids span three >>16 blocks; token counts force a 2048 crossing
    Seq((1L, words(1000)), (70000L, words(1500)), (200000L, words(600)))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.t14SeqPack(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(got === Array(
      (1L, 1000L, 0L, 0L, 0L),          // tokens [0, 1000)
      (70000L, 1500L, 1000L, 0L, 1L),   // [1000, 2500) crosses seq 0→1
      (200000L, 600L, 2500L, 1L, 1L)))  // [2500, 3100)
    // the shift is a dial, not a semantics knob: a tiny shift (many
    // blocks — every doc its own block here) yields identical output
    spark.conf.set("spark.graft.packShift", "2")
    try {
      val reShifted = TextAnalysis.t14SeqPack(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
      assert(reShifted === got)
    } finally spark.conf.unset("spark.graft.packShift")
  }

  test("t14 staged frame: the returned plan reads the checkpoint, not the corpus") {
    // both prefix-sum branches must consume the staged (doc_id, n_tok)
    // frame — the plan that re-derived the tokenize scan under the join
    // (two corpus scans) showed documents.parquet twice; the staged plan
    // must not reference the parquet source at all
    val plan = TextAnalysis.t14SeqPack(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("parquet"),
      s"documents scan leaked past the staged frame:\n${plan.take(1500)}")
  }

  test("t16 pack spans: bijective with t14 in both directions") {
    import spark.implicits._
    val packed = TextAnalysis.t14SeqPack(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val spans = TextAnalysis.t16PackSpans(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // doc direction: spans partition each doc's token interval exactly
    spans.groupBy(_._2).foreach { case (docId, ss) =>
      val (nTok, tokOff, firstSeq, lastSeq) = packed(docId)
      assert(ss.map(_._4).sum === nTok, s"doc $docId span lengths != n_tok")
      assert(ss.map(_._1).min === firstSeq && ss.map(_._1).max === lastSeq)
      // spans are contiguous within the doc, starting at 0
      val sorted = ss.sortBy(_._1)
      assert(sorted.head._3 === 0L)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._3 + a._4 === b._3, s"gap in doc $docId")
        case _           => ()
      }
      // each span's global start lands inside its sequence
      ss.foreach { case (seq, _, start, len) =>
        val g = tokOff + start
        assert(g >= seq * 2048 && g + len <= (seq + 1) * 2048)
      }
    }
    // sequence direction: every sequence except the last is exactly full
    val bySeq = spans.groupBy(_._1).view.mapValues(_.map(_._4).sum).toMap
    val lastSeq = bySeq.keys.max
    bySeq.foreach { case (seq, tot) =>
      if (seq < lastSeq) assert(tot === 2048L, s"seq $seq not full: $tot")
      else assert(tot > 0L && tot <= 2048L)
    }
    assert(bySeq.keys.min === 0L)
  }

  test("t17 pack shards: materialized sequences tie bijectively to t16's spans") {
    import org.apache.spark.sql.functions._
    // the gate row (reads the artifact written partitionBy(shard))
    val gate = TextAnalysis.t17PackShards(spark, sf).collect()
    assert(gate.nonEmpty)
    // every sequence but the last is exactly full; shards are contiguous
    // seq_id ranges
    val lastSeq = gate.map(_.getLong(0)).max
    gate.foreach { r =>
      val (seq, shard, n) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(shard === seq / 16, s"seq $seq in wrong shard $shard")
      if (seq < lastSeq) assert(n === 2048L, s"seq $seq not full: $n")
      else assert(n > 0L && n <= 2048L)
    }
    // the artifact itself: token counts per sequence equal t16's span sums,
    // and the parquet is physically partitioned by shard
    val sfTag = sf.replaceAll("[^A-Za-z0-9]", "_")
    val out = s"${sys.props("java.io.tmpdir")}/graft_t17_$sfTag"
    val arrays = spark.read.parquet(out)
      .select(col("seq_id"), size(col("token_ids")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val spanSums = TextAnalysis.t16PackSpans(spark, sf)
      .groupBy(col("seq_id")).agg(sum(col("len")).as("tot"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(arrays === spanSums)
    assert(new java.io.File(out).listFiles()
      .exists(f => f.isDirectory && f.getName.startsWith("shard=")))
  }

  test("t18 DSIR weights: hand-computed ratios on a toy corpus, target docs rank first") {
    import spark.implicits._
    val docs = Seq(
      (1L, "aa bb aa bb aa bb"), // target-like: features {aa bb, bb aa}
      (2L, "cc dd cc dd cc dd"), // off-target
      (3L, "aa bb cc dd")        // mixed
    ).toDF("doc_id", "text")
    val target = Seq(Tuple1("aa bb aa bb")).toDF("text")
    val buckets = 1 << 16 // collision-free at toy scale w.h.p. (4 bigrams)
    val w = TextAnalysis.dsirWeights(docs, target, buckets)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(w.keySet === Set(1L, 2L, 3L))
    // target-like doc must outrank mixed, mixed must outrank off-target
    assert(w(1L) > w(3L) && w(3L) > w(2L), w.toString)
    // hand-check doc 2 exactly: its features {cc dd (x3), dd cc (x2)} have
    // tc=0; raw counts: cc dd -> 3+1(doc3)=4, dd cc -> 2. T=3 (2+1 from
    // "aa bb aa bb"), R=13 (5+5+3 bigrams).
    def lr(tc: Long, rc: Long): Double =
      math.log((tc + 1).toDouble / (3 + buckets)) -
        math.log((rc + 1).toDouble / (13 + buckets))
    val expected2 = (3 * lr(0, 4) + 2 * lr(0, 2)) / 5
    assert(math.abs(w(2L) - expected2) < 1e-12, s"${w(2L)} vs $expected2")
    // docs with < 2 tokens have no features and no weight row
    val single = Seq((9L, "solo")).toDF("doc_id", "text")
    assert(TextAnalysis.dsirWeights(single.unionByName(docs), target, buckets)
      .where($"doc_id" === 9L).isEmpty)
  }

  test("q42's observation leaves the session serializable for later ML scoring") {
    // regression (r9): a registered Observation lives on in the session's
    // ObservationManager; an MLlib model whose training summary pins the
    // session would then fail every scoring job with "Task not
    // serializable". q42 runs on a clone AND trainRF strips the summary —
    // this pins the exact failing order (q42 before RF scoring).
    SparkEntry.queries("q42_observe_metrics")(spark, sf)
      .write.format("noop").mode("overwrite").save()
    SparkEntry.queries("x04_ml_score")(spark, sf)
      .write.format("noop").mode("overwrite").save()
  }

  test("s12 residual IVFADC: both guaranteed contracts hold at sf0.001") {
    val r = Similarity.s12IvfAdcResidualGate(spark, sf).head
    assert(r.getLong(0) === 10L)
    assert(r.getBoolean(1), "copy must achieve the min ADC within its cell")
    assert(r.getBoolean(2), "copy ADC must equal the LUT per-subspace min sum")
  }

  test("t20 span scrub: planted shared-phrase docs keep exactly their unique prefix") {
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val rows = TextAnalysis.t20SpanScrub(spark, sf).collect()
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    (0 until 10).foreach { i =>
      val r = byId(2000000000L + i)
      assert(r.getLong(1) === 27L) // 2-token prefix + 25-token phrase
      // the phrase's shared windows cover the whole 25-token suffix, the
      // prefix-crossing windows are unique per doc: kept == the prefix
      assert(r.getLong(2) === 2L, s"planted $i kept ${r.getLong(2)}")
      assert(r.getString(3) === md5hex(s"pfx$i uniq$i"))
    }
    rows.foreach(r => assert(r.getLong(2) <= r.getLong(1)))
  }

  test("t20 span scrub on a hand corpus: coverage boundaries are exact") {
    import spark.implicits._
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val shared = (0 until 20).map(i => s"s$i").mkString(" ")
    val prefixA = (0 until 19).map(i => s"w$i").mkString(" ")
    val suffixB = (0 until 5).map(i => s"x$i").mkString(" ")
    val docs = Seq(
      (1L, s"$prefixA $shared"),  // shared block is its 20-token TAIL
      (2L, s"$shared $suffixB"),  // shared block is its 20-token HEAD
      (3L, "a b c")               // too short for any window: untouched
    ).toDF("doc_id", "text")
    val out = TextAnalysis.spanScrub(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    // doc 1: only the window starting at 20 (the shared block) duplicates;
    // coverage is positions 20..39, kept = the 19 prefix tokens exactly
    assert(out(1L) === ((39L, 19L, md5hex(prefixA))))
    // doc 2: only the window starting at 1 duplicates; coverage 1..20,
    // kept = the 5 suffix tokens exactly
    assert(out(2L) === ((25L, 5L, md5hex(suffixB))))
    // doc 3: no windows, everything kept, hash of the rejoined text
    assert(out(3L) === ((3L, 3L, md5hex("a b c"))))
  }

  test("t20 linear coverage merge equals the quadratic exists-scan form") {
    import spark.implicits._
    val shared = (0 until 20).map(i => s"s$i").mkString(" ")
    // overlapping + adjacent + isolated dup spans in one doc, plus the
    // corpus, so the run-length merge's min(SpanW, gap) branches all fire
    val docs = Seq(
      (1L, s"a b $shared c d $shared e"),
      (2L, s"$shared $shared"),
      (3L, "lone short doc")
    ).toDF("doc_id", "text")
      .unionByName(graft.Tables.documents(spark, sf)
        .select(col("doc_id") + 5000000L as "doc_id", col("text")))
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))
    val lin = TextAnalysis.spanScrub(docs).collect().map(key).toSeq
    val quad = TextAnalysis.spanScrubQuadratic(docs).collect().map(key).toSeq
    assert(lin === quad)
  }

  test("plan shapes: t18 ratio dim and d20 benchmark index join as broadcasts") {
    // the 100 TB claims as CI assertions, not prose: the corpus-sized side
    // must never be the build side of these joins
    val t18Plan = TextAnalysis.dsirWeights(
      graft.Tables.documents(spark, sf).select(col("doc_id"), col("text")),
      graft.Tables.documents(spark, sf).select(col("text")).limit(50),
      1 << 16).queryExecution.executedPlan.toString
    assert(t18Plan.contains("BroadcastHashJoin"),
      "t18's ratio dim must broadcast-join:\n" + t18Plan.take(1500))
    val d20Plan = Dedup.d20NearDupDecontamGate(spark, sf)
      .queryExecution.executedPlan.toString
    assert(d20Plan.contains("BroadcastHashJoin"),
      "d20's benchmark index must broadcast-join:\n" + d20Plan.take(1500))
    assert(!d20Plan.contains("SortMergeJoin"),
      "d20 must not shuffle the corpus for a dim-sized benchmark:\n" +
        d20Plan.take(1500))
  }

  test("t15 curation v2: funnel is monotone, no corpus-sized bigram explode") {
    val rows = TextAnalysis.t15CurationV2(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, q, lr, u) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(n >= q && q >= lr && lr >= u,
        s"${r.getString(0)}: funnel not monotone ($n >= $q >= $lr >= $u)")
      assert(r.getLong(6) <= u) // pii audit counts within the kept set
    }
    // the repetition signal must run as the native per-row kernel — no
    // explode/generate of bigrams anywhere in the plan
    val plan = TextAnalysis.t15CurationV2(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"), s"bigram explode in plan:\n${plan.take(1500)}")
  }

  test("s09 IVFADC gate: copies probed and at min ADC through the composed index") {
    val r = Similarity.s09IvfAdcGate(spark, sf).collect()
    assert(r.length === 1)
    assert(r(0).getLong(0) === 10L)
    assert(r(0).getBoolean(1),
      "a planted copy was unprobed or above min ADC in the IVF+PQ path")
  }

  test("d18 incremental == batch on seeded random corpora with planted dups") {
    import spark.implicits._
    val rnd = new scala.util.Random(8150813L)
    def randomDoc(seed: Long): String = {
      val r = new scala.util.Random(seed)
      (1 to 50).map(_ => r.alphanumeric.take(7).mkString).mkString(" ")
    }
    for (trial <- 1 to 3) {
      // history 1..12 with one internal dup; incoming 20..29 with a
      // random mix of history copies, in-batch copies, and fresh docs
      val histSeeds = (1L to 12L).map(i => i -> (trial * 1000L + i)).toMap
      val hist = histSeeds.toSeq.sortBy(_._1)
        .map { case (i, sd) => (i, randomDoc(sd)) }.toDF("doc_id", "text")
      val inc = (20L to 29L).map { i =>
        val roll = rnd.nextInt(3)
        val text =
          if (roll == 0) randomDoc(histSeeds(1L + rnd.nextInt(12)))  // hist copy
          else if (roll == 1 && i > 20L) randomDoc(trial * 7000L + 20L + rnd.nextInt((i - 20L).toInt)) // maybe copies an earlier inc seed
          else randomDoc(trial * 7000L + i)                          // fresh
        (i, text)
      }.toDF("doc_id", "text")
      val incr = Dedup.incrementalNearDedupKeep(inc, hist, 0.8)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val batch = Dedup.nearDedupKeep(hist.union(inc), 0.8)
        .where($"doc_id" >= 20L).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(incr === batch, s"trial $trial: incremental $incr != batch $batch")
    }
  }

  test("t14 two-level == flat prefix sum on seeded sparse random ids") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val rnd = new scala.util.Random(20260814L)
    val dir = java.nio.file.Files.createTempDirectory("t14rand").toString
    // sparse ids spread over many >>16 blocks, random token counts
    val ids = Seq.fill(120)(math.abs(rnd.nextLong()) % (1L << 24)).distinct
    ids.map(i => (i, Seq.fill(1 + rnd.nextInt(400))("w").mkString(" ")))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val flat = graft.Tables.documents(spark, dir)
      .select($"doc_id",
        org.apache.spark.sql.functions.size(
          graft.functions.TextFns.tokens($"text")).cast("long").as("n_tok"))
      .withColumn("tok_offset", sum($"n_tok").over(
        Window.orderBy($"doc_id".asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)) - $"n_tok")
      .select($"doc_id", $"n_tok", $"tok_offset",
        expr("tok_offset div 2048").as("first_seq"),
        expr("(tok_offset + n_tok - 1) div 2048").as("last_seq"))
    val got = TextAnalysis.t14SeqPack(spark, dir)
    assert(got.exceptAll(flat).isEmpty && flat.exceptAll(got).isEmpty)
  }

  test("planted gates fail loudly when corpus ids reach the plant offset") {
    import spark.implicits._
    val docs = Seq((1L, "a" * 50), (1000000001L, "b" * 50))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", lit(50L))
    val tmp = java.nio.file.Files.createTempDirectory("idh").toString
    docs.write.mode("overwrite").parquet(tmp + "/documents.parquet")
    val e = intercept[IllegalArgumentException] {
      Dedup.d07LshPlantedGate(spark, tmp)
    }
    assert(e.getMessage.contains("planted-copy offset"))
  }

  test("d12 CC matches a reference union-find on seeded random graphs") {
    import spark.implicits._
    (1 to 5).foreach { trial =>
      val rnd = new scala.util.Random(trial * 7919L)
      val nodes = 60
      val edges = (1 to 80).map(_ =>
        (rnd.nextInt(nodes).toLong, rnd.nextInt(nodes).toLong))
        .filter { case (a, b) => a != b }
      // reference: weighted-quick-union with path compression
      val parent = Array.tabulate(nodes)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(n => n -> {
          // min label of n's component among nodes IN the edge set
          val root = find(n.toInt)
          edges.flatMap(e => Seq(e._1, e._2)).distinct
            .filter(m => find(m.toInt) == root).min
        }).toMap
      val got = Dedup.connectedComponents(edges.toDF("a_id", "b_id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected, s"trial $trial diverged")
    }
  }

  test("t11 native kernel matches a naive bigram count on seeded corpora") {
    import spark.implicits._
    (1 to 5).foreach { trial =>
      val rnd = new scala.util.Random(trial * 104729L)
      // tiny vocab -> dense bigram repetition, the regime that matters
      val toks = (1 to 50 + rnd.nextInt(100)).map(_ => s"w${rnd.nextInt(6)}")
      val naive = {
        val bgs = toks.sliding(2).map(_.mkString("")).toSeq
        bgs.groupBy(identity).values.map(_.size).max.toDouble / bgs.size
      }
      val native = Seq(Tuple1(toks))
        .toDF("t")
        .select(graft.functions.TopBigramExpr.topBigramFraction(col("t")))
        .head.getDouble(0)
      assert(native === naive, s"trial $trial: $native != $naive")
    }
  }

  test("multimodal frame features: real WAV decode is deterministic and batch-shaped") {
    val f1 = Multimodal.m02FrameFeatures(spark, sf).collect()
    val f2 = Multimodal.m02FrameFeatures(spark, sf).collect()
    assert(f1.sameElements(f2))
    assert(f1.forall(_.getInt(2) > 0)) // n_samples positive
  }

  test("audio decode seam: spark.graft.codec.audio plugs a codec in") {
    val real = Multimodal.m02FrameFeatures(spark, sf).collect()
    spark.conf.set("spark.graft.codec.audio", "graft.operators.ConstAudioCodec")
    try {
      val plugged = Multimodal.m02FrameFeatures(spark, sf).collect()
      // one constant-signature frame per document, untouched by the real
      // WAV parse path
      assert(plugged.length < real.length)
      plugged.foreach { r =>
        assert(r.getInt(1) === 0)   // frame_idx
        assert(r.getInt(2) === 1)   // n_samples
        assert(r.getInt(4) === 7)   // peak_amp
        assert(r.getLong(5) === 9L) // energy
      }
    } finally spark.conf.unset("spark.graft.codec.audio")
    // and with the conf unset, the default real-codec path is byte-identical
    val realAgain = Multimodal.m02FrameFeatures(spark, sf).collect()
    assert(realAgain.sameElements(real))
  }

  test("image decode seam: spark.graft.codec.image plugs a codec in") {
    val real = Multimodal.m03ImageStats(spark, sf).collect()
    spark.conf.set("spark.graft.codec.image", "graft.operators.ConstImageCodec")
    try {
      val plugged = Multimodal.m03ImageStats(spark, sf).collect()
      assert(plugged.length === real.length)
      plugged.foreach { r =>
        assert(r.getInt(1) === 1 && r.getInt(2) === 1) // width, height
        assert(r.getDouble(3) > 0.0)                   // r_mean = payload len
        assert(r.getInt(6) === 0)                      // r_max
      }
    } finally spark.conf.unset("spark.graft.codec.image")
    val realAgain = Multimodal.m03ImageStats(spark, sf).collect()
    assert(realAgain.sameElements(real))
  }

  test("video decode seam: spark.graft.codec.video plugs a codec in") {
    val real = Multimodal.m05VideoFrames(spark, sf).collect()
    assert(real.nonEmpty && real.forall(_.getInt(2) === 32)) // 8x4 luma plane
    // frame indexes are the sampled (even) ones, per doc starting at 0
    assert(real.forall(_.getInt(1) % 2 === 0))
    spark.conf.set("spark.graft.codec.video", "graft.operators.ConstVideoCodec")
    try {
      val plugged = Multimodal.m05VideoFrames(spark, sf).collect()
      assert(plugged.length < real.length) // one const frame per document
      plugged.foreach { r =>
        assert(r.getInt(1) === 0 && r.getInt(2) === 1) // frame_idx, n_pixels
        assert(r.getInt(4) === 7)                      // y_peak
        assert(r.getLong(5) === 0L)                    // u_sum
      }
    } finally spark.conf.unset("spark.graft.codec.video")
    val realAgain = Multimodal.m05VideoFrames(spark, sf).collect()
    assert(realAgain.sameElements(real))
  }
}
