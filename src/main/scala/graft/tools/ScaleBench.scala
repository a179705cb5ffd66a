package graft.tools

import graft.core.{MappingConfig, PeriodUnit}
import graft.operators.{LagCorrelation, MappingEngine}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale stress benchmark: synthesize a two-series workload far above the
  * reference's "large" tier (>10M rows, ARCHITECTURE.md:193) entirely
  * distributed (spark.range, no driver loops), then run the correlation
  * and DTW paths end-to-end and report records/second against BASELINE.md.
  *
  * Usage: runMain graft.tools.ScaleBench [nKeys] [nPeriods]
  */
object ScaleBench {

  /** Deterministic per-(key, m) value — columnar, no UDF. */
  private def valueExpr(key: org.apache.spark.sql.Column, m: org.apache.spark.sql.Column) =
    lit(500.0) + (key % 97).cast("double") +
      lit(20.0) * m.cast("double") +
      (hash(key, m).cast("double") % 1000.0) / 100.0

  def genSeries(spark: SparkSession, nKeys: Long, nPeriods: Int): (DataFrame, DataFrame) = {
    val base = spark.range(nKeys * nPeriods).select(
      (col("id") / nPeriods).cast("long").as("k"),
      (col("id") % nPeriods).cast("int").as("m"))
    val t1 = base.select(
      col("k").cast("string").as("key"),
      add_months(lit("2020-01-01").cast("date"), col("m")).as("period"),
      valueExpr(col("k"), col("m")).as("value"))
    // value2(t) = 10% of value1(t-1): recompute the formula at m-1
    val t2 = base.filter(col("m") > 0).select(
      col("k").cast("string").as("key"),
      add_months(lit("2020-01-01").cast("date"), col("m")).as("period"),
      (valueExpr(col("k"), col("m") - 1) * 0.1).as("value"))
    (t1, t2)
  }

  /** Hot-bucket dedup stress: `nDocs` synthetic documents that ALL share
    * one attribute bucket, with a 1% planted exact-duplicate tail.
    * Attribute-bucketed all-pairs would score nDocs²/2 pairs; the
    * LSH-band path's candidate count scales with the duplicate tail.
    * Usage: runMain graft.tools.ScaleBench dedup [nDocs] */
  def piiMain(spark: SparkSession, nDocs: Long): Unit = {
    import graft.functions.{TextFunctions => TF}
    // 40-token docs; every 3rd doc carries an email, every 5th a phone,
    // every 7th an IP — so ~54% of docs have at least one PII entity
    val body = concat_ws(" ",
      (0 until 40).map(j => concat(lit("w"), pmod(hash(col("id"), lit(j)), lit(1000)))): _*)
    val docs = spark.range(nDocs).select(
      col("id").as("doc_id"),
      concat(
        body,
        when(pmod(col("id"), lit(3)) === 0,
          concat(lit(" user"), col("id"), lit("@example.com"))).otherwise(lit("")),
        when(pmod(col("id"), lit(5)) === 0, lit(" 555-123-4567")).otherwise(lit("")),
        when(pmod(col("id"), lit(7)) === 0,
          concat(lit(" 10.0."), pmod(col("id"), lit(256)), lit("."), pmod(col("id"), lit(100))))
          .otherwise(lit(""))).as("text")).cache()
    val total = docs.count()
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    // detection: per-doc counts folded into one global aggregate
    val (found, detectSec) = time {
      docs.select(Seq(col("doc_id")) ++ TF.piiCounts(col("text")): _*)
        .agg(sum("n_emails"), sum("n_phones"), sum("n_ips"))
        .collect()(0).toSeq.map(_.asInstanceOf[Long])
    }
    // redaction: rewrite every doc, fold lengths so the projection runs
    val (redactedChars, redactSec) = time {
      docs.select(length(TF.redactPii(col("text"))).as("n"))
        .agg(sum("n")).collect()(0).getLong(0)
    }
    println(
      s"""{"workload":{"docs":$total},
         |"detect":{"wall_s":$detectSec,"docs_per_s":${(total / detectSec).toLong},"emails":${found(0)},"phones":${found(1)},"ips":${found(2)}},
         |"redact":{"wall_s":$redactSec,"docs_per_s":${(total / redactSec).toLong},"chars_out":$redactedChars}}"""
        .stripMargin.replace("\n", ""))
  }

  /** Quarantined multimodal decode at scale with a poisoned fraction:
    * `nDocs` animated-GIF payloads (the heaviest JDK codec path) of
    * which `poisonPct`% are truncated mid-header — the real-crawl shape
    * where some fraction of scraped bytes is always malformed. Gates
    * that the corrupt rows are EXACTLY the poisoned ones (isolated, not
    * stage-fatal, no false quarantines), and prices the tolerant path
    * against the same decode over a fully-clean corpus.
    * Usage: runMain graft.tools.ScaleBench multimodal [nDocs] [poisonPct] */
  def multimodalMain(spark: SparkSession, nDocs: Long, poisonPct: Int): Unit = {
    import spark.implicits._
    import graft.multimodal.Multimodal
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    def gen(poisoned: Boolean) = spark.range(nDocs).as[Long].mapPartitions { it =>
      it.map { id =>
        val good = Multimodal.syntheticGif(id)
        // truncation INSIDE the logical screen descriptor: unreadable
        // for every id (a mid-stream cut could land on a frame boundary
        // and demux clean with fewer frames — not a corrupt row at all)
        if (poisoned && id % 100 < poisonPct)
          (id, java.util.Arrays.copyOfRange(good, 0, 8))
        else (id, good)
      }
    }.toDF("doc_id", "payload").cache()
    val poisonedDocs = gen(poisoned = true)
    val total = poisonedDocs.count()
    val expectCorrupt = (0L until nDocs).count(_ % 100 < poisonPct).toLong
    val (byStatus, qSec) = time {
      Multimodal.videoFrameStatsQuarantined(poisonedDocs, "doc_id", "payload")
        .groupBy("status").agg(count(lit(1)).as("n"),
          countDistinct(col("doc_id")).as("docs"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    }
    val corruptDocs = byStatus.get("corrupt").map(_._2).getOrElse(0L)
    val okFrames = byStatus.get("ok").map(_._1).getOrElse(0L)
    require(corruptDocs == expectCorrupt,
      s"quarantine gate: expected $expectCorrupt corrupt docs, got $corruptDocs")
    poisonedDocs.unpersist()
    val cleanDocs = gen(poisoned = false)
    cleanDocs.count()
    val (cleanFrames, cSec) = time {
      Multimodal.videoFrameStatsQuarantined(cleanDocs, "doc_id", "payload")
        .filter(col("status") === "ok").count()
    }
    cleanDocs.unpersist()
    println(
      s"""{"workload":{"docs":$total,"poison_pct":$poisonPct},
         |"poisoned":{"wall_s":$qSec,"docs_per_s":${(total / qSec).toLong},"ok_frames":$okFrames,"corrupt_docs":$corruptDocs},
         |"clean":{"wall_s":$cSec,"docs_per_s":${(total / cSec).toLong},"ok_frames":$cleanFrames}}"""
        .stripMargin.replace("\n", ""))
  }

  def dedupMain(spark: SparkSession, nDocs: Long): Unit = {
    val dups = math.max(1L, nDocs / 100)
    // doc i gets 12 tokens unique to i; the last `dups` docs copy doc
    // (id - nDocs + dups)'s text exactly — all deterministic, no driver loop
    def textOf(id: org.apache.spark.sql.Column) =
      concat_ws(" ", (1 to 12).map(j => concat(lit("w"), id, lit(s"x$j"))): _*)
    val docs = spark.range(nDocs + dups).select(
      col("id").as("doc_id"),
      textOf(when(col("id") >= nDocs, col("id") - nDocs + (nDocs - dups)).otherwise(col("id")))
        .as("text"))
    val t0 = System.nanoTime()
    val pairs = graft.functions.Dedup.ngramJaccardViaLsh(docs, "text", "doc_id")
    val nPairs = pairs.count()
    val exactDups = pairs.filter(col("jaccard") === 1.0).count()
    val sec = (System.nanoTime() - t0) / 1e9
    val quadratic = (nDocs + dups) * (nDocs + dups - 1) / 2
    println(
      s"""{"workload":{"docs":${nDocs + dups},"planted_dups":$dups},
         |"lsh_pairs":{"sec":$sec,"candidate_pairs":$nPairs,"exact_dup_pairs":$exactDups},
         |"all_pairs_avoided":$quadratic,
         |"candidate_fraction":${nPairs.toDouble / quadratic}}"""
        .stripMargin.replace("\n", ""))
  }

  /** Connected-components stress: one `chainLen`-node path (the diameter
    * worst case — plain label propagation would need `chainLen` rounds)
    * plus `nGroups` disjoint 5-node cliques (the realistic dedup-cluster
    * volume case), all edges synthesized distributively. Validates the
    * exact component count and reports wall time; the alternating-star
    * round count grows with log(chain length) only, while clique count
    * only widens the per-round shuffles.
    * Usage: runMain graft.tools.ScaleBench cc [chainLen] [nGroups] */
  def ccMain(spark: SparkSession, chainLen: Long, nGroups: Long): Unit = {
    val chain = spark.range(chainLen - 1).select(col("id").as("a"), (col("id") + 1).as("b"))
    // the 10 unordered pairs of a 5-clique, indexed by id % 10
    val pi = array(Seq(0, 0, 0, 0, 1, 1, 1, 2, 2, 3).map(x => lit(x.toLong)): _*)
    val pj = array(Seq(1, 2, 3, 4, 2, 3, 4, 3, 4, 4).map(x => lit(x.toLong)): _*)
    val cliques = spark.range(nGroups * 10).select(
      (lit(chainLen) + expr("id div 10") * 5 +
        element_at(pi, (col("id") % 10).cast("int") + 1)).as("a"),
      (lit(chainLen) + expr("id div 10") * 5 +
        element_at(pj, (col("id") % 10).cast("int") + 1)).as("b"))
    val edges = chain.union(cliques)
    val t0 = System.nanoTime()
    val cc = graft.functions.Dedup.connectedComponents(edges, "a", "b")
    val comps = cc.select("component").distinct().count()
    val nodes = cc.count()
    val sec = (System.nanoTime() - t0) / 1e9
    val expected = 1 + nGroups
    println(
      s"""{"workload":{"chain_nodes":$chainLen,"clique_groups":$nGroups,
         |"edges":${chainLen - 1 + nGroups * 10}},
         |"cc":{"sec":$sec,"nodes":$nodes,"components":$comps,"expected":$expected},
         |"ok":${comps == expected && nodes == chainLen + nGroups * 5}}"""
        .stripMargin.replace("\n", ""))
  }

  /** Skewed fact-to-dim join stress: 30% of the fact lands on ONE key
    * (the hot-partition case a uniform hash shuffle cannot balance), the
    * dim side is sized past the broadcast threshold so the join is a
    * genuine shuffle join. Runs the identical plan with AQE skew-join
    * splitting on and off and reports both — the measured basis for this
    * engine's skew posture (AQE re-plan first, salting helpers in
    * functions/Skew for non-join shapes).
    * Usage: runMain graft.tools.ScaleBench skew [nFactRows] [hotTenths] */
  def skewMain(spark: SparkSession, nFact: Long, hotTenths: Int = 3): Unit = {
    val nDim = 2000000L
    val fact = spark.range(nFact).select(
      when(pmod(col("id"), lit(10)) < hotTenths, 0L).otherwise(pmod(col("id"), lit(nDim))).as("k"),
      (col("id") % 97).cast("double").as("v"))
    // ~128-byte payload keeps the dim well past autoBroadcast sizes
    val dim = spark.range(nDim).select(
      col("id").as("k"),
      concat(md5(col("id").cast("string")), md5((col("id") + 1).cast("string")),
        md5((col("id") + 2).cast("string")), md5((col("id") + 3).cast("string"))).as("payload"))
    def run(skewOn: Boolean): Double = {
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", skewOn.toString)
      val t0 = System.nanoTime()
      fact.join(dim, Seq("k"))
        .select(sum(col("v") + length(col("payload"))).as("s"))
        .collect()
      (System.nanoTime() - t0) / 1e9
    }
    val saved = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force a shuffle join
    try {
      // Untimed warmup: the first execution of this plan pays whole-stage
      // codegen + JIT; running it before the A/B pair keeps that cost out
      // of whichever config happens to go first (it was inflating the
      // reported skew-join speedup).
      run(skewOn = true)
      val off = run(skewOn = false)
      val on = run(skewOn = true)
      println(
        s"""{"workload":{"fact_rows":$nFact,"dim_rows":$nDim,"hot_key_share":${hotTenths / 10.0}},
           |"skew_join_off":{"sec":$off},
           |"skew_join_on":{"sec":$on},
           |"speedup":${off / on}}"""
          .stripMargin.replace("\n", ""))
    } finally {
      saved.fold(spark.conf.unset("spark.sql.autoBroadcastJoinThreshold"))(
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", _))
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    }
  }

  /** Text-curation stress: the full d-family pipeline (quality + lang-ID
    * + repetition metrics + decontamination + exact dedup) over `nDocs`
    * synthetic 40-token documents — per-row scoring is one codegen'd
    * projection; repetition explodes ~40 grams/doc into two partial
    * aggregates; decontamination broadcasts the eval grams. Every stage
    * is timed separately so the scale profile of each shape is visible.
    * Usage: runMain graft.tools.ScaleBench curation [nDocs] */
  def curationMain(spark: SparkSession, nDocs: Long): Unit = {
    import graft.functions.{Dedup, TextFunctions => TF}
    // token j of doc id: hash-drawn from a 1k vocab; every 7th token is a
    // language stopword chosen by id%3 (en/de/fr) so lang-ID has signal;
    // every 20th doc is a degenerate repeated-token doc; last 1% are
    // exact copies of earlier docs
    def tok(id: org.apache.spark.sql.Column, j: Int) =
      if (j % 7 == 3)
        when(pmod(id, lit(3)) === 0, lit("the"))
          .when(pmod(id, lit(3)) === 1, lit("der"))
          .otherwise(lit("les"))
      else concat(lit("w"), pmod(hash(id, lit(j)), lit(1000)))
    val dups = math.max(1L, nDocs / 100)
    val srcId = when(col("id") >= nDocs, col("id") - nDocs + (nDocs - dups)).otherwise(col("id"))
    val docs = spark.range(nDocs + dups).select(
      col("id").as("doc_id"),
      when(pmod(srcId, lit(20)) === 0,
        concat_ws(" ", Seq.fill(40)(lit("spam")).map(c => c: org.apache.spark.sql.Column): _*))
        .otherwise(concat_ws(" ", (0 until 40).map(j => tok(srcId, j)): _*))
        .as("text")).cache()
    val total = docs.count()
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    val (scored, scoreSec) = time {
      docs.select(col("doc_id"), TF.tokens(col("text")).as("toks"))
        .select(
          col("doc_id"),
          TF.qualityScoreOf(col("toks")).as("quality"),
          TF.predictLangOf(col("toks")).as("lang"))
        .groupBy(col("lang")).agg(count(lit(1)), avg(col("quality"))).count()
    }
    val (nFlagged, repSec) = time {
      TF.repetitionMetrics(docs, "text", "doc_id").filter(col("repetition_flag") === 1).count()
    }
    val (nContaminated, decontamSec) = time {
      Dedup.contaminationReport(
        docs.filter(pmod(col("doc_id"), lit(1009)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(1009)) === 0),
        "text", "doc_id", minContamination = 0.05).count()
    }
    val (nDupGroups, dedupSec) = time {
      Dedup.exactDedup(docs, "text", "doc_id").filter(col("n_duplicates") > 0).count()
    }
    val totalSec = scoreSec + repSec + decontamSec + dedupSec
    println(
      s"""{"workload":{"docs":$total,"tokens_per_doc":40},
         |"score_langid":{"sec":$scoreSec,"lang_groups":$scored},
         |"repetition":{"sec":$repSec,"flagged":$nFlagged},
         |"decontamination":{"sec":$decontamSec,"contaminated":$nContaminated},
         |"exact_dedup":{"sec":$dedupSec,"dup_groups":$nDupGroups},
         |"total":{"sec":$totalSec,"docs_per_sec":${(total / totalSec).toLong}}}"""
        .stripMargin.replace("\n", ""))
  }

  /** Span-dedup stress: ExactSubstr apply (Dedup.spanDedupApply) over
    * `nDocs` synthetic 40-token documents — 10% carry a shared 10-token
    * boilerplate passage mid-document (the partial-overlap case passage
    * chunking misses) and the last 1% are exact copies. Expected shape:
    * boilerplate docs lose exactly the 10 planted tokens (span [10,19]),
    * exact copies lose all 40. The k-gram explode is ~33 rows/doc; the
    * first-occurrence aggregate partial-combines the hot boilerplate
    * grams map-side. Usage: runMain graft.tools.ScaleBench spandedup [nDocs] */
  def spanDedupMain(spark: SparkSession, nDocs: Long): Unit = {
    import graft.functions.Dedup
    def tok(id: org.apache.spark.sql.Column, j: Int): org.apache.spark.sql.Column =
      if (j >= 10 && j < 20)
        // docs with id%10==7 share the boilerplate passage at tokens 10-19
        when(pmod(id, lit(10)) === 7, lit(s"b$j"))
          .otherwise(concat(lit("w"), pmod(hash(id, lit(j)), lit(100000000))))
      else concat(lit("w"), pmod(hash(id, lit(j)), lit(100000000)))
    val dups = math.max(1L, nDocs / 100)
    val srcId = when(col("id") >= nDocs, col("id") - nDocs + (nDocs - dups)).otherwise(col("id"))
    val docs = spark.range(nDocs + dups).select(
      col("id").as("doc_id"),
      concat_ws(" ", (0 until 40).map(j => tok(srcId, j)): _*).as("text")).cache()
    val total = docs.count()
    val t0 = System.nanoTime()
    val out = Dedup.spanDedupApply(docs, "text", "doc_id", k = 8)
      .agg(
        count(lit(1)).as("docs"),
        sum(when(col("n_spans") > 0, 1L).otherwise(0L)).as("docs_hit"),
        sum(col("n_spans")).as("spans"),
        sum(col("removed_tokens")).as("removed"),
        sum(length(col("cleaned_text"))).as("cleaned_chars"))
      .collect()(0)
    val sec = (System.nanoTime() - t0) / 1e9
    println(
      s"""{"workload":{"docs":$total,"tokens_per_doc":40,"boilerplate_share":0.1,"exact_dup_share":0.01},
         |"apply":{"sec":$sec,"docs_hit":${out.getAs[Long]("docs_hit")},
         |"spans":${out.getAs[Long]("spans")},"tokens_removed":${out.getAs[Long]("removed")}},
         |"docs_per_sec":${(total / sec).toLong}}"""
        .stripMargin.replace("\n", ""))
    docs.unpersist()
  }

  /** Span-dedup ADVERSARIAL density: every document is the SAME 40-token
    * boilerplate text, so every doc but the corpus-wide first is one
    * maximal duplicated run — the regime where dupStarts is ~n_tokens
    * rows per doc (33 k-gram starts at k=8) instead of a few. The
    * structures that must stay bounded: the islands window partitions
    * per DOC (33 rows each — never by gram, where every partition would
    * be nDocs deep), and the first-occurrence aggregate partial-combines
    * the 33 white-hot grams map-side (33 reduce rows total). Expected
    * output: nDocs-1 docs hit, one span each, 40 tokens removed per hit,
    * empty cleaned text. Throughput should track the friendly-corpus
    * run within a small constant — degrading linearly with rows, not
    * quadratically with duplication. Usage:
    * runMain graft.tools.ScaleBench spandedup-worst [nDocs] */
  def spanDedupWorstMain(spark: SparkSession, nDocs: Long): Unit = {
    import graft.functions.Dedup
    val boiler = (0 until 40).map(j => s"b$j").mkString(" ")
    val docs = spark.range(nDocs)
      .select(col("id").as("doc_id"), lit(boiler).as("text")).cache()
    val total = docs.count()
    val t0 = System.nanoTime()
    val out = Dedup.spanDedupApply(docs, "text", "doc_id", k = 8)
      .agg(
        count(lit(1)).as("docs"),
        sum(when(col("n_spans") > 0, 1L).otherwise(0L)).as("docs_hit"),
        sum(col("n_spans")).as("spans"),
        sum(col("removed_tokens")).as("removed"),
        max(col("n_spans")).as("max_spans_per_doc"))
      .collect()(0)
    val sec = (System.nanoTime() - t0) / 1e9
    println(
      s"""{"workload":{"docs":$total,"tokens_per_doc":40,"boilerplate_share":1.0},
         |"apply":{"sec":$sec,"docs_hit":${out.getAs[Long]("docs_hit")},
         |"spans":${out.getAs[Long]("spans")},"tokens_removed":${out.getAs[Long]("removed")},
         |"max_spans_per_doc":${out.getAs[Long]("max_spans_per_doc")}},
         |"docs_per_sec":${(total / sec).toLong}}"""
        .stripMargin.replace("\n", ""))
    docs.unpersist()
  }

  /** Bitext-mining stress: margin mining over ANN candidates at a scale
    * where the exact cross (nSrc × nTgt cosines) is not runnable. Two
    * clustered vector sets; the first `nPlanted` target vectors are
    * near-copies of their source twins (the planted translations). LSH
    * banded candidates (over-fetched top-16) feed mineBitext's
    * scoredOverride; reported recall counts planted pairs mined as
    * forward-best accepted. Usage:
    * runMain graft.tools.ScaleBench bitext [nSrc] [nTgt] [nPlanted] */
  def bitextMain(spark: SparkSession, nSrc: Long, nTgt: Long, nPlanted: Long): Unit = {
    import graft.functions.Similarity
    val dim = 64
    // sign-LSH buckets collapse to ~one per cluster on clustered data, so
    // candidate volume ≈ nTgt/nClusters per query — size clusters so that
    // stays bounded (the paircorr band-sizing lesson, cluster edition)
    val nClusters = 2000
    def clusterVec(center: org.apache.spark.sql.Column, noiseKey: org.apache.spark.sql.Column) =
      transform(
        sequence(lit(0), lit(dim - 1)),
        j =>
          (pmod(hash(center, j), lit(2000)).cast("double") - 1000.0) / 1000.0 +
            (pmod(hash(noiseKey, j), lit(2000)).cast("double") - 1000.0) / 10000.0)
    val tgtBase = 1000000000L
    val src = spark.range(nSrc).select(
      col("id").as("vec_id"),
      clusterVec(col("id") % nClusters, col("id")).as("embedding")).cache()
    // planted targets reuse the SOURCE's noise key (same vector) plus a
    // 1% twin-specific perturbation; the rest are fresh cluster draws
    val tgt = spark.range(nTgt).select(
      (col("id") + tgtBase).as("vec_id"),
      when(
        col("id") < nPlanted,
        zip_with(
          clusterVec(col("id") % nClusters, col("id")),
          sequence(lit(0), lit(dim - 1)),
          (v, j) => v + (pmod(hash(col("id") + tgtBase, j), lit(2000)).cast("double") - 1000.0) / 100000.0))
        .otherwise(clusterVec(col("id") % nClusters, col("id") + tgtBase))
        .as("embedding")).cache()
    src.count(); tgt.count()
    val t0 = System.nanoTime()
    val candidates = Similarity
      .lshTopKBanded(tgt, src, "vec_id", "embedding", k = 16,
        nBits = 16, nBands = 4, multiProbe = false)
      .select(col("query_id").as("src_id"), col("corpus_id").as("tgt_id"),
        col("cos_sim").as("cos"))
    val mined = Similarity
      .mineBitext(
        spark.emptyDataFrame, spark.emptyDataFrame, "vec_id", "embedding", "lang",
        "src", "tgt", k = 4, minMargin = 1.0, scoredOverride = Some(candidates))
      .filter(col("accepted") === 1L)
      .select(col("src_id"), col("tgt_id"), col("mutual"))
      .collect()
    val sec = (System.nanoTime() - t0) / 1e9
    val minedPairs = mined.map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0L until nPlanted).map(i => (i, i + tgtBase)).toSet
    val recall = (planted & minedPairs).size.toDouble / planted.size
    println(
      s"""{"workload":{"src":$nSrc,"tgt":$nTgt,"planted":$nPlanted,"exact_pairs_avoided":${nSrc * nTgt}},
         |"mine":{"sec":$sec,"accepted":${mined.length},
         |"mutual":${mined.count(_.getLong(2) == 1L)},
         |"planted_recall":$recall}}"""
        .stripMargin.replace("\n", ""))
    src.unpersist(); tgt.unpersist()
  }

  /** DIMSUM stress: sampled vs exact term-term co-occurrence dots over a
    * skewed doc-term matrix (`nDocs` docs × 40 slots, half the slots
    * drawn from 100 hot stopword-like terms, half from a 20k cold vocab).
    * The exact path emits every within-doc term pair; DIMSUM keeps each
    * (doc, term) entry w.p. min(1, sqrtGamma/||term||), so hot columns —
    * which dominate the pair fan-out — are sampled down by their norm.
    * Usage: runMain graft.tools.ScaleBench dimsum [nDocs] [sqrtGamma] */
  def dimsumMain(spark: SparkSession, nDocs: Long, sqrtGamma: Double): Unit = {
    val slots = spark.range(nDocs * 40).select(
      (col("id") / 40).cast("long").as("doc"),
      pmod(col("id"), lit(40)).as("slot"))
    val entries = slots.select(
      col("doc"),
      when(col("slot") < 20, pmod(hash(col("doc"), col("slot")), lit(100)))
        .otherwise(lit(100) + pmod(hash(col("doc"), col("slot"), lit(7)), lit(20000)))
        .as("term"))
      .groupBy(col("doc"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .cache()
    val nEntries = entries.count()
    val norms = entries
      .groupBy(col("term"))
      .agg(sqrt(sum(col("tf") * col("tf")).cast("double")).as("nrm"))
      .withColumn("pmin", least(lit(1.0), lit(sqrtGamma) / col("nrm")))
      .cache()
    norms.count()
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    def pairCount(e: org.apache.spark.sql.DataFrame): Long =
      e.as("a")
        .join(e.as("b"), col("a.doc") === col("b.doc") && col("a.term") < col("b.term"))
        .groupBy(col("a.term").as("ta"), col("b.term").as("tb"))
        .agg(sum(col("a.tf") * col("b.tf")).as("dot"))
        .count()
    val (exactPairs, exactSec) = time(pairCount(entries))
    val sampled = entries
      .join(broadcast(norms.select(col("term"), col("pmin"))), Seq("term"))
      .filter(
        (hash(col("doc"), col("term")).cast("long").bitwiseAND(lit(Int.MaxValue.toLong)))
          .cast("double") / Int.MaxValue.toDouble < col("pmin"))
      .select(col("doc"), col("term"), col("tf"))
    val (sampledPairs, sampledSec) = time(pairCount(sampled))
    val keptFrac = sampled.count().toDouble / nEntries
    println(
      s"""{"workload":{"docs":$nDocs,"entries":$nEntries,"hot_terms":100,"cold_terms":20000,
         |"sqrt_gamma":$sqrtGamma},
         |"exact":{"sec":$exactSec,"pairs":$exactPairs},
         |"dimsum":{"sec":$sampledSec,"pairs":$sampledPairs,"entries_kept_frac":$keptFrac},
         |"speedup":${exactSec / sampledSec}}"""
        .stripMargin.replace("\n", ""))
    entries.unpersist(); norms.unpersist()
  }

  /** Heavy-hitters stress: Misra–Gries sketch (capacity 64) vs the exact
    * groupBy top-5 over `nRows` with 5 hot keys (50% of rows) in a sea of
    * nRows/10 distinct cold keys. The exact path shuffles every distinct
    * key; the sketch shuffles <= 64 counters per partition. Usage:
    * runMain graft.tools.ScaleBench heavyhitters [nRows] */
  def heavyHittersMain(spark: SparkSession, nRows: Long): Unit = {
    import graft.functions.FrequentItems
    val keyed = spark.range(nRows).select(
      when(pmod(col("id"), lit(10)) < 5, concat(lit("hot"), pmod(col("id"), lit(5))))
        .otherwise(concat(lit("cold"), pmod(hash(col("id")), lit(nRows / 10))))
        .as("k")).cache()
    keyed.count() // materialize: both branches read the same cached input
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    // JIT warmup for both plans before the timed A/B
    keyed.limit(1000000).groupBy(col("k")).agg(count(lit(1))).orderBy(col("count(1)").desc).limit(5).collect()
    keyed.limit(1000000).agg(FrequentItems.udafFor(64)(col("k"))).collect()
    val (exactTop, exactSec) = time {
      keyed.groupBy(col("k")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("k").asc).limit(5).collect()
    }
    val (sketchRow, sketchSec) = time {
      keyed.agg(FrequentItems.udafFor(64)(col("k")).as("sk")).collect()(0)
    }
    val sketchItems = sketchRow.getSeq[org.apache.spark.sql.Row](0).map(_.getString(0)).toSet
    val exactKeys = exactTop.map(_.getString(0)).toSet
    val allFound = exactKeys.subsetOf(sketchItems)
    println(
      s"""{"workload":{"rows":$nRows,"hot_keys":5,"cold_keys":${nRows / 10}},
         |"exact_groupby":{"sec":$exactSec},
         |"mg_sketch":{"sec":$sketchSec,"capacity":64,"top5_found":$allFound},
         |"speedup":${exactSec / sketchSec}}"""
        .stripMargin.replace("\n", ""))
    keyed.unpersist()
  }

  /** Count-Min stress: CMS build + point probes vs the exact per-key
    * groupBy on the heavyhitters workload (5 hot keys in nRows/10 cold
    * ones). The exact path materializes a count for EVERY distinct key
    * (a shuffle of nRows/10 keys) to answer any frequency question; the
    * CMS shuffles depth·width·partitions counters and then answers any
    * point query from the broadcast table. Usage:
    * runMain graft.tools.ScaleBench countmin [nRows] */
  def countMinMain(spark: SparkSession, nRows: Long): Unit = {
    import graft.functions.CountMin
    val depth = 4; val width = 4096
    val keyed = spark.range(nRows).select(
      when(pmod(col("id"), lit(10)) < 5, concat(lit("hot"), pmod(col("id"), lit(5))))
        .otherwise(concat(lit("cold"), pmod(hash(col("id")), lit(nRows / 10))))
        .as("k")).cache()
    keyed.count()
    val probes = (0 until 5).map(i => s"hot$i") ++ (0 until 5).map(i => s"cold$i")
    val probeDf = spark.createDataFrame(probes.map(Tuple1(_))).toDF("k")
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    // JIT warmup for both plans
    keyed.limit(1000000).groupBy(col("k")).agg(count(lit(1))).collect()
    CountMin.build(keyed.limit(1000000), col("k"), depth, width).collect()
    val (exact, exactSec) = time {
      keyed.groupBy(col("k")).agg(count(lit(1)).as("n"))
        .join(probeDf, Seq("k"), "right")
        .select(col("k"), coalesce(col("n"), lit(0L)).as("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    val (est, cmsSec) = time {
      val sketch = CountMin.build(keyed, col("k"), depth, width)
      CountMin.estimate(sketch, probeDf, "k", depth, width).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    val neverUnder = probes.forall(k => est(k) >= exact(k))
    val maxOver = probes.map(k => est(k) - exact(k)).max
    println(
      s"""{"workload":{"rows":$nRows,"hot_keys":5,"cold_keys":${nRows / 10},"depth":$depth,"width":$width},
         |"exact_groupby":{"sec":$exactSec},
         |"cms":{"sec":$cmsSec,"never_underestimates":$neverUnder,"max_overcount":$maxOver},
         |"speedup":${exactSec / cmsSec}}"""
        .stripMargin.replace("\n", ""))
    keyed.unpersist()
  }

  /** HLL distinct-count stress vs exact countDistinct at `nRows` rows /
    * ~nRows/10 distinct keys: the exact plan shuffles every distinct key
    * (a full network exchange of the key dictionary on a cluster); the
    * sketch shuffles ≤256 register rows per partition — the gap the
    * shuffle column prices in. Also checks the estimate against the
    * exact count and the merge-of-halves against the whole sketch.
    * Usage: runMain graft.tools.ScaleBench hll [nRows] */
  def hllMain(spark: SparkSession, nRows: Long): Unit = {
    import graft.functions.Hll
    val keyed = spark.range(nRows).select(
      concat(lit("k"), pmod(hash(col("id")), lit(nRows / 10))).as("k")).cache()
    keyed.count()
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    // JIT warmup for both plans
    keyed.limit(1000000).agg(countDistinct(col("k"))).collect()
    Hll.registers(keyed.limit(1000000), col("k")).collect()
    val (exact, exactSec) = time {
      keyed.agg(countDistinct(col("k"))).head.getLong(0)
    }
    val (est, hllSec) = time {
      Hll.estimate(Hll.registers(keyed, col("k")))
    }
    val relErr = math.abs(est - exact) / exact
    println(
      s"""{"workload":{"rows":$nRows,"distinct_keys":$exact},
         |"exact_count_distinct":{"sec":$exactSec},
         |"hll":{"sec":$hllSec,"estimate":$est,"rel_err":$relErr,"registers":256},
         |"speedup":${exactSec / hllSec}}"""
        .stripMargin.replace("\n", ""))
    keyed.unpersist()
  }

  /** Histogram-sketch quantiles vs exact percentile at `nRows` rows:
    * the exact plan buffers the whole column through one aggregation
    * (network + memory ∝ rows on a cluster); the sketch is ≤128 integer
    * counters per partition. Reports both walls, the p50/p95/p99
    * estimates, and the realized error against exact (bounded by bin
    * width). Usage: runMain graft.tools.ScaleBench hist [nRows] */
  def histMain(spark: SparkSession, nRows: Long): Unit = {
    import graft.functions.HistogramSketch
    // skewed-ish positive metric: (hash % 1M)^2 / 1M in [0, 1M)
    val vals = spark.range(nRows).select(
      (pow(pmod(hash(col("id")), lit(1000000L)).cast("double"), 2.0) / 1e6).as("x"))
      .cache()
    vals.count()
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    vals.limit(1000000).agg(expr("percentile(x, 0.5)")).collect() // JIT warmup
    HistogramSketch.build(vals.limit(1000000), col("x"), 0.0, 1e6, 128).collect()
    val (exact, exactSec) = time {
      vals.agg(expr("percentile(x, array(0.5, 0.95, 0.99))"))
        .head.getSeq[Double](0)
    }
    val ((lo, hi, est), histSec) = time {
      val (l, h) = HistogramSketch.range(vals, col("x"))
      val hist = HistogramSketch.build(vals, col("x"), l, h, 128)
      (l, h, HistogramSketch.quantiles(hist, l, h, 128, Seq(0.5, 0.95, 0.99)).map(_._2))
    }
    val width = (hi - lo) / 128
    val errs = est.zip(exact).map { case (e, x) => math.abs(e - x) }
    println(
      s"""{"workload":{"rows":$nRows,"bins":128},
         |"exact_percentile":{"sec":$exactSec,"p50":${exact(0)},"p95":${exact(1)},"p99":${exact(2)}},
         |"hist":{"sec":$histSec,"p50":${est(0)},"p95":${est(1)},"p99":${est(2)},
         |"max_err":${errs.max},"bin_width":$width,"within_bin":${errs.forall(_ <= width)}},
         |"speedup":${exactSec / histSec}}"""
        .stripMargin.replace("\n", ""))
    vals.unpersist()
  }

  /** Perceptron classifier end-to-end at `nDocs` synthetic docs across
    * 20 classes with class-correlated vocabulary: training cost is
    * CAPPED by the portable-hash sample (the d65 contract), so the
    * measured wall is dominated by the serve side — one feature explode
    * + broadcast-model fold per doc — which is the part that scales.
    * Usage: runMain graft.tools.ScaleBench classify [nDocs] */
  def classifyMain(spark: SparkSession, nDocs: Long): Unit = {
    import graft.functions.QualityClassifier
    // 24 tokens/doc: 16 class-specific (vocab disjoint across classes),
    // 8 shared noise — linearly separable but not trivially so
    val cls = pmod(col("id"), lit(20L))
    val body = concat_ws(" ",
      (0 until 16).map(j => concat(lit("c"), cls, lit("w"), pmod(hash(col("id"), lit(j)), lit(50)))) ++
        (0 until 8).map(j => concat(lit("n"), pmod(hash(col("id"), lit(100 + j)), lit(200)))): _*)
    val docs = spark.range(nDocs).select(
      col("id").as("doc_id"),
      body.as("text"),
      concat(lit("src"), cls).as("source")).cache()
    val total = docs.count()
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    val (acc, sec) = time {
      val out = QualityClassifier.perceptronClassifier(
        docs, "text", "doc_id", "source", numBuckets = 1024, epochs = 4, sampleCap = 240L)
      val r = out.agg(sum(col("correct")), count(lit(1))).head()
      r.getLong(0).toDouble / r.getLong(1)
    }
    println(
      s"""{"workload":{"docs":$total,"classes":20,"sample_cap":240,"epochs":4},
         |"perceptron":{"sec":$sec,"docs_per_s":${(total / sec).toLong},"accuracy":$acc}}"""
        .stripMargin.replace("\n", ""))
    docs.unpersist()
  }

  /** Events-family stress: the REGISTERED behavioral queries
    * (sessionization, funnel, retention, RFM, runs) against `nEvents`
    * synthetic events written as a harness-shaped dir — so the measured
    * plans are exactly the registry's, not re-implementations. ~20
    * events/user over 56 days; all five are one-or-two-shuffle shapes
    * keyed by user, so the expectation is linear rows/s, confirmed by
    * the printed per-query throughput.
    * Usage: runMain graft.tools.ScaleBench events [nEvents] */
  def eventsMain(spark: SparkSession, nEvents: Long): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft_events").toString
    val nUsers = math.max(1L, nEvents / 20)
    spark.range(nEvents).select(
      col("id").as("event_id"),
      timestamp_seconds(lit(1577836800L) + pmod(hash(col("id"), lit(1)), lit(56L * 86400))).as("ts"),
      pmod(hash(col("id"), lit(2)), lit(nUsers)).as("user_id"),
      element_at(
        array(lit("view"), lit("view"), lit("view"), lit("click"), lit("purchase")),
        (pmod(hash(col("id"), lit(3)), lit(5)) + 1).cast("int")).as("event_type"),
      (pmod(hash(col("id"), lit(4)), lit(10000)).cast("double") / 100.0).as("value"),
      lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    val queries = Seq("q15_sessions", "q37_funnel", "q38_retention", "q39_rfm", "q41_runs")
    // JIT warmup on the harness-scale dir
    queries.foreach(q => graft.SparkEntry.queries(q)(spark, "/root/testdata/sf0.01").count())
    val results = queries.map { q =>
      val (rows, sec) = time(graft.SparkEntry.queries(q)(spark, dir).count())
      q -> (rows, sec)
    }
    val per = results.map { case (q, (rows, sec)) =>
      s""""$q":{"sec":$sec,"out_rows":$rows,"events_per_s":${(nEvents / sec).toLong}}"""
    }.mkString(",")
    println(s"""{"workload":{"events":$nEvents,"users":$nUsers},$per}""")
  }

  /** Bloom-pruned selective join vs the plain shuffle join at `nRows`
    * big-side rows against a `nKeys`-key dimension with `sel` match
    * selectivity: measures the end-to-end wall and the big-side rows
    * that reach the join (the shuffle-volume cut the bloom buys — on a
    * cluster that is network bytes, locally it is hash-probe work).
    * Usage: runMain graft.tools.ScaleBench bloomjoin [nRows] [nKeys] */
  def bloomJoinMain(spark: SparkSession, nRows: Long, nKeys: Long): Unit = {
    import graft.functions.BloomPrune
    // dimension: nKeys keys, 10% selected; facts reference keys uniformly
    val dim = spark.range(nKeys).select(
      col("id").as("k"), (pmod(col("id"), lit(10)) === 0).as("selected"))
    val sel = dim.filter(col("selected")).select(col("k")).cache()
    val nSel = sel.count()
    val big = spark.range(nRows).select(
      pmod(hash(col("id")), lit(nKeys)).as("k"),
      (col("id") % 1000).cast("double").as("v")).cache()
    big.count()
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    big.limit(1000000).join(sel, Seq("k")).agg(sum(col("v"))).collect() // warmup
    val (plain, plainSec) = time {
      big.join(sel, Seq("k")).agg(sum(col("v")), count(lit(1))).head()
    }
    // the timed section pays the full build; the prunedRows probe below
    // reuses the SAME array instead of re-running the two build jobs
    var words: Array[Long] = null
    val (bloomed, bloomSec) = time {
      words = BloomPrune.buildSized(sel, col("k"))
      BloomPrune.pruneAuto(big, col("k"), words)
        .join(sel, Seq("k")).agg(sum(col("v")), count(lit(1))).head()
    }
    val prunedRows = BloomPrune.pruneAuto(big, col("k"), words).count()
    require(plain == bloomed, "bloom-pruned result diverged from plain join")
    println(
      s"""{"workload":{"big_rows":$nRows,"dim_keys":$nKeys,"selected_keys":$nSel},
         |"plain_join":{"sec":$plainSec},
         |"bloom_join":{"sec":$bloomSec,"rows_into_join":$prunedRows,
         |"big_side_cut":${1.0 - prunedRows.toDouble / nRows}},
         |"speedup":${plainSec / bloomSec}}"""
        .stripMargin.replace("\n", ""))
    big.unpersist(); sel.unpersist()
  }

  /** Copy-on-write upsert stress: a CDC batch touching `kParts` of
    * `nParts` date partitions applied to an `nRows`-row table — measures
    * the touched-partitions-only rewrite against the full-table rewrite
    * a naive MERGE pays. Usage:
    * runMain graft.tools.ScaleBench upsert [nRows] [nParts] [kParts] */
  def upsertMain(spark: SparkSession, nRows: Long, nParts: Int, kParts: Int): Unit = {
    import graft.sources.Upsert
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert").toString
    val base = spark.range(nRows).select(
      col("id"),
      concat(lit("d"), lpad((col("id") % nParts).cast("string"), 4, "0")).as("day"),
      (col("id") % 1000).cast("double").as("amount"))
    base.write.partitionBy("day").parquet(s"$dir/t")
    val (files0, bytes0) = graft.sources.Compaction.stats(spark, s"$dir/t")
    // batch: update every 10th row of the first kParts partitions + a few inserts
    val updates = spark.range(nRows).select(
      col("id"),
      concat(lit("d"), lpad((col("id") % nParts).cast("string"), 4, "0")).as("day"),
      (col("id") % 1000).cast("double").as("amount"))
      .filter(col("id") % nParts < kParts && col("id") % 10 === 0)
      .withColumn("amount", col("amount") + 1.5)
      .unionByName(spark.range(5).select(
        (col("id") + nRows).as("id"), lit("d9999").as("day"), lit(0.0).as("amount")))
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    val ((touched, written), cowSec) = time {
      Upsert.copyOnWrite(spark, s"$dir/t", updates, Seq("id"), "day")
    }
    // control: the naive full-table MERGE rewrite
    val (_, fullSec) = time {
      val merged = Upsert.merge(
        spark.read.parquet(s"$dir/t").select(col("id"), col("day").cast("string").as("day"),
          col("amount")),
        updates, Seq("id")).drop("op").localCheckpoint(true)
      merged.write.mode("overwrite").partitionBy("day").parquet(s"$dir/full")
    }
    println(
      s"""{"workload":{"rows":$nRows,"partitions":$nParts,"touched_partitions":$touched,
         |"base_files":$files0,"base_mb":${bytes0 / 1024 / 1024}},
         |"copy_on_write":{"sec":$cowSec,"rows_written":$written},
         |"full_rewrite_control":{"sec":$fullSec},
         |"speedup":${(fullSec / cowSec * 10).round / 10.0}}"""
        .stripMargin.replace("\n", ""))
  }

  /** Bigram-LM scoring stress: train the add-k model on `nDocs`
    * synthetic 40-token docs and perplexity-score the same corpus —
    * timed as (counts build) + (model + scoring), the split a production
    * run sees (counts built once, scores re-derived per threshold).
    * Usage: runMain graft.tools.ScaleBench lm [nDocs] */
  def lmMain(spark: SparkSession, nDocs: Long): Unit = {
    import graft.functions.NgramLm
    def tok(id: org.apache.spark.sql.Column, j: Int) =
      concat(lit("w"), pmod(hash(id, lit(j)), lit(1000)))
    val docs = spark.range(nDocs).select(
      col("id").as("doc_id"),
      concat_ws(" ", (0 until 40).map(j => tok(col("id"), j)): _*).as("text"))
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    val (docBig, buildSec) = time {
      val b = NgramLm.docBigramCounts(
        docs, "text", "doc_id", NgramLm.vocabulary(docs, "text", 512)).cache()
      b.count()
      b
    }
    val (nScored, scoreSec) = time {
      NgramLm.scoresFromCounts(docBig, NgramLm.modelFromCounts(docBig), "doc_id").count()
    }
    val totalSec = buildSec + scoreSec
    println(
      s"""{"workload":{"docs":$nDocs,"tokens_per_doc":40,"vocab":512},
         |"counts_build":{"sec":$buildSec},
         |"model_and_score":{"sec":$scoreSec,"docs_scored":$nScored},
         |"total":{"sec":$totalSec,"docs_per_sec":${(nDocs / totalSec).toLong}}}"""
        .stripMargin.replace("\n", ""))
    docBig.unpersist(blocking = false)
    ()
  }

  /** ANN stress on CLUSTERED embeddings (the realistic regime — the
    * sf0.01 recall gate runs on near-random vectors, the adversarial
    * one): `nVecs` synthetic dim-64 vectors in `nClusters` hash-derived
    * clusters with 10% noise, generated distributed. Reports wall time +
    * recall@5 of banded LSH and trained IVF vs brute force on the same
    * query set. Usage: runMain graft.tools.ScaleBench ann [nVecs] */
  /** Incremental index maintenance A/B: one-time model training on the
    * base corpus, then route+encode of a fresh batch
    * (Similarity.ivfPqIndexAppend) vs a full re-encode of base+fresh
    * under the same model. The append path's cost must scale with the
    * BATCH — the whole point of d56's operator at a daily-ingest 100 TB
    * deployment. Usage: runMain graft.tools.ScaleBench append [nBase] [nFresh] */
  def appendMain(spark: SparkSession, nBase: Long, nFresh: Long, nClusters: Int = 200): Unit = {
    import graft.functions.Similarity
    val dim = 64
    val all = spark.range(nBase + nFresh).select(
      col("id").as("vec_id"),
      transform(
        sequence(lit(0), lit(dim - 1)),
        j =>
          (pmod(hash(col("id") % nClusters, j), lit(2000)).cast("double") - 1000.0) / 1000.0 +
            (pmod(hash(col("id"), j), lit(2000)).cast("double") - 1000.0) / 10000.0)
        .as("embedding")).cache()
    all.count()
    val base = all.filter(col("vec_id") < nBase)
    val fresh = all.filter(col("vec_id") >= nBase)
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    val key = Some("scale-append")
    // JIT/codegen warm-up on a slice (untimed): the first heavy
    // vector-expression pass otherwise pays whole-stage compilation +
    // interpreter time and pollutes every number after it
    Similarity.ivfPqIndexAppend(
      base.limit(2000), fresh.limit(1000), "vec_id", "embedding",
      cacheKey = Some("scale-append-warm")).count()
    // one-time: train the model on the base corpus (memoized under key)
    val (_, trainSec) = time {
      Similarity.trainIvfCentroids(base, "vec_id", "embedding", 32,
        iters = 3, sampleN = 100000, cacheKey = key)
      Similarity.trainPqCodebooks(base, "vec_id", "embedding", 16, 32,
        iters = 3, sampleN = 100000, cacheKey = key)
    }
    // recurring: append the fresh batch (models hit the cache); twice —
    // min is the steady per-batch cost a daily ingest pays
    val (freshRows, appendSec1) = time {
      Similarity.ivfPqIndexAppend(base, fresh, "vec_id", "embedding", cacheKey = key).count()
    }
    val (_, appendSec2) = time {
      Similarity.ivfPqIndexAppend(base, fresh, "vec_id", "embedding", cacheKey = key).count()
    }
    val appendSec = math.min(appendSec1, appendSec2)
    // the alternative a naive deployment pays: re-encode EVERYTHING
    val (allRows, rebuildSec) = time {
      Similarity.ivfPqIndexAppend(base, all, "vec_id", "embedding", cacheKey = key).count()
    }
    println(
      s"""{"workload":{"base":$nBase,"fresh":$nFresh,"dim":$dim},
         |"train_once":{"sec":$trainSec},
         |"append":{"sec":$appendSec,"rows":$freshRows},
         |"full_reencode":{"sec":$rebuildSec,"rows":$allRows},
         |"speedup":${rebuildSec / appendSec}}""".stripMargin.replace("\n", ""))
  }

  def annMain(spark: SparkSession, nVecs: Long, nClusters: Int = 200): Unit = {
    import graft.functions.Similarity
    require(nVecs >= 100, s"annMain probes the first 100 vec_ids; need nVecs >= 100, got $nVecs")
    val dim = 64
    // center(c)[j] in [-1,1) from hash(c,j); vector = center + 10% noise
    val v = spark.range(nVecs).select(
      col("id").as("vec_id"),
      transform(
        sequence(lit(0), lit(dim - 1)),
        j =>
          (pmod(hash(col("id") % nClusters, j), lit(2000)).cast("double") - 1000.0) / 1000.0 +
            (pmod(hash(col("id"), j), lit(2000)).cast("double") - 1000.0) / 10000.0)
        .as("embedding")).cache()
    v.count()
    val q = v.filter(col("vec_id") < 100)
    val nQueries = q.count() // emit the measured probe count, not a literal
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    val (brute, bruteSec) = time {
      Similarity.bruteForceTopK(v, q, "vec_id", "embedding", 5).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
    }
    def recall(pairs: Set[(Long, Long)]): Double = (brute & pairs).size.toDouble / brute.size
    val (lshPairs, lshSec) = time {
      Similarity.lshTopKBanded(v, q, "vec_id", "embedding", 5).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
    }
    val (ivfPairs, ivfSec) = time {
      Similarity.ivfTopKTrained(v, q, "vec_id", "embedding", 5, sampleN = 100000).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
    }
    // the defaults above are tuned for the ADVERSARIAL near-random gate;
    // clustered data keeps full recall with far cheaper settings — the
    // knob a production deployment would turn
    val (lshCheapPairs, lshCheapSec) = time {
      Similarity.lshTopKBanded(v, q, "vec_id", "embedding", 5,
        nBits = 8, nBands = 2, multiProbe = false).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
    }
    val (ivfCheapPairs, ivfCheapSec) = time {
      Similarity.ivfTopKTrained(v, q, "vec_id", "embedding", 5,
        nCentroids = 32, nProbe = 2, iters = 2, sampleN = 100000).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
    }
    // PQ: train+encode is the one-time index build (codes are 16 bytes
    // per vector = 16x under float32); search is ADC over codes + exact
    // re-rank of the shortlist only
    // PQ index build (one-time: train sub-codebooks + encode the corpus
    // to 16-byte codes) timed apart from the recurring ADC search.
    // shortlist ~cluster size: 200 clusters quantize to near-identical
    // codes within a cluster, so ADC ties must all reach the re-rank
    val (codes, pqBuildSec) = time {
      val cb = Similarity.trainPqCodebooks(v, "vec_id", "embedding",
        nSub = 16, kSub = 32, sampleN = 20000)
      val c = Similarity.pqEncode(v, "vec_id", "embedding", cb).cache()
      c.count()
      (cb, c)
    }
    val (pqPairs, pqSearchSec) = time {
      Similarity.pqTopKEncoded(v, codes._2, q, "vec_id", "embedding", 5,
        codes._1, shortlist = 5000).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
    }
    // IVF-PQ: the composition — coarse lists prune the scan to
    // nProbe/nLists of the corpus, ADC scores only those codes (timed
    // whole: coarse+PQ training, 1-per-row routing, encode, search)
    val (ivfPqPairs, ivfPqSec) = time {
      Similarity.ivfPqTopK(v, q, "vec_id", "embedding", 5,
        nLists = 64, nProbe = 4, nSub = 16, kSub = 32,
        shortlist = 5000, sampleN = 20000).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
    }
    println(
      s"""{"workload":{"vecs":$nVecs,"dim":$dim,"clusters":$nClusters,"queries":$nQueries},
         |"brute":{"sec":$bruteSec},
         |"lsh_banded_adversarial_cfg":{"sec":$lshSec,"recall_at_5":${recall(lshPairs)}},
         |"ivf_trained_adversarial_cfg":{"sec":$ivfSec,"recall_at_5":${recall(ivfPairs)}},
         |"lsh_banded_clustered_cfg":{"sec":$lshCheapSec,"recall_at_5":${recall(lshCheapPairs)}},
         |"ivf_trained_clustered_cfg":{"sec":$ivfCheapSec,"recall_at_5":${recall(ivfCheapPairs)}},
         |"pq_index_build":{"sec":$pqBuildSec},
         |"pq_adc_search_rerank":{"sec":$pqSearchSec,"recall_at_5":${recall(pqPairs)}},
         |"ivf_pq_total_incl_build":{"sec":$ivfPqSec,"recall_at_5":${recall(ivfPqPairs)}}}"""
        .stripMargin.replace("\n", ""))
  }

  /** As-of join stress: `nLeft` driving rows and `nRight` lookup rows
    * across `nKeys` keys with interleaved pseudo-random timestamps. The
    * union-window scan sorts each key's rows once (ONE shuffle,
    * O((L+R)·log) per key); the naive inequality-join formulation
    * compares (L/K)·(R/K) pairs per key — the report prints the pair
    * count the scan avoided. Usage:
    * runMain graft.tools.ScaleBench asof [nLeft] [nRight] [nKeys] */
  def asofMain(spark: SparkSession, nLeft: Long, nRight: Long, nKeys: Long): Unit = {
    def ts(seed: org.apache.spark.sql.Column) =
      abs(hash(seed)).cast("long") % 1000000000L
    val left = spark.range(nLeft).select(
      (col("id") % nKeys).as("k"),
      ts(col("id")).as("lts"),
      col("id").as("lid"))
    val right = spark.range(nRight).select(
      (col("id") % nKeys).as("k"),
      ts(col("id") + nLeft).as("rts"),
      (col("id") % 100000).cast("double").as("rvalue"))
    val t0 = System.nanoTime()
    val joined = graft.operators.AsofJoin.asof(left, right, Seq("k"), "lts", "rts")
    val n = joined.count()
    val matched = joined.filter(col("rts").isNotNull).count()
    val sec = (System.nanoTime() - t0) / 1e9
    val naivePairs = nKeys * (nLeft / nKeys) * (nRight / nKeys)
    println(
      s"""{"workload":{"left":$nLeft,"right":$nRight,"keys":$nKeys},
         |"asof":{"sec":$sec,"out_rows":$n,"matched":$matched,
         |"input_rec_per_sec":${((nLeft + nRight) / sec).toLong}},
         |"naive_inequality_pairs_avoided":$naivePairs}"""
        .stripMargin.replace("\n", ""))
  }

  /** Incremental dedup at scale: a corpus of `nCorpus` 40-token docs is
    * indexed (distinct 8-gram fps + bloom); a batch of `nBatch` docs with
    * a 2% planted re-crawl tail is deduped against it, bloom-pruned vs
    * the plain semi-join control. The headline numbers: the prune
    * fraction (how much of the batch never touches the join) and the
    * A/B wall-clock. Usage: runMain graft.tools.ScaleBench incr
    * [nCorpus] [nBatch] */
  def incrMain(spark: SparkSession, nCorpus: Long, nBatch: Long): Unit = {
    import graft.functions.IncrementalDedup
    if (sys.env.contains("SPARK_GRAFT_DEBUG_STAGES"))
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          val secs = (for {
            t0 <- si.submissionTime; t1 <- si.completionTime
          } yield (t1 - t0) / 1000.0).getOrElse(-1.0)
          println(f"STAGE ${si.stageId}%4d $secs%8.2fs tasks=${si.numTasks}%3d ${si.name.take(80)}")
        }
      })
    def body(saltedId: org.apache.spark.sql.Column) = concat_ws(" ",
      (0 until 40).map(j => concat(lit("w"), pmod(hash(saltedId, lit(j)), lit(100000)))): _*)
    val corpus = spark.range(nCorpus)
      .select(col("id").as("doc_id"), body(col("id")).as("text"))
    // every 50th batch doc re-crawls corpus doc id div 50 (INTEGRAL
    // division — `/` on longs is double division and would change the
    // hashes); the rest draw from a disjoint id space -> genuinely new
    val batch = spark.range(nBatch).select(
      col("id").as("doc_id"),
      body(
        when(pmod(col("id"), lit(50)) === 0, expr("id div 50"))
          .otherwise(col("id") + nCorpus + 1000000L)).as("text")).cache()
    batch.count()

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }

    // xxhash64 fingerprints: the production path (the portable md5 form
    // exists for oracle parity, not for 33M-row index builds)
    val (idx, idxSec) = time {
      val i = IncrementalDedup
        .shingleFps(corpus, "text", "doc_id", 8, portable = false)
        .select(col("fp")).distinct().cache()
      i.count()
      i
    }
    val (bloomBytes, bloomBuildSec) = time(IncrementalDedup.buildBloom(idx, 0.01))
    // probe-only pass: how much of the batch the bloom settles scan-side
    val ((positives, totalShingles), probeSec) = time {
      graft.functions.expressions.BloomMightContain.register(spark)
      val b = IncrementalDedup.shingleFps(batch, "text", "doc_id", 8, portable = false)
      val p = b.filter(
        call_function("bloom_might_contain", lit(bloomBytes), col("fp"))).count()
      (p, b.count())
    }
    val ((dropped, kept), bloomSec) = time {
      val r = IncrementalDedup
        .passageDedupStats(batch, idx, "text", "doc_id", useBloom = true, portable = false,
          prebuiltBloom = Some(bloomBytes))
        .cache()
      val d = r.filter(!col("keep")).count()
      (d, r.count() - d)
    }
    val (_, plainSec) = time {
      IncrementalDedup
        .passageDedupStats(batch, idx, "text", "doc_id", useBloom = false, portable = false)
        .filter(!col("keep")).count()
    }
    val idxRows = idx.count()
    println(
      s"""{"workload":{"corpus_docs":$nCorpus,"batch_docs":$nBatch,"index_fps":$idxRows,"bloom_bytes":${bloomBytes.length}},
         |"index_build_sec":$idxSec,"bloom_build_sec":$bloomBuildSec,
         |"probe":{"sec":$probeSec,"positives":$positives,"shingles":$totalShingles,"prune_frac":${1.0 - positives.toDouble / totalShingles}},
         |"bloom_dedup":{"sec":$bloomSec,"docs_per_sec":${(nBatch / bloomSec).toLong},"dropped":$dropped,"kept":$kept},
         |"plain_semijoin":{"sec":$plainSec,"docs_per_sec":${(nBatch / plainSec).toLong}},
         |"planted_dup_rate":0.02}""".stripMargin.replace("\n", ""))
  }

  /** Z-order data-skipping at scale: `nRows` (x, y, payload) rows in a
    * 4096x4096 key space, written (a) z-ordered and (b) x-sorted, then a
    * ~1.6%-selective y-box and an xy-box are scanned on both layouts.
    * Reports per-layout file-envelope hits (what a footer reader prunes)
    * and min-of-2 scan wall-clock with pushed filters. Usage:
    * runMain graft.tools.ScaleBench zorder [nRows] */
  def zorderMain(spark: SparkSession, nRows: Long): Unit = {
    import graft.functions.ZOrder
    val dir = java.nio.file.Files.createTempDirectory("graft_zorder_bench").toString
    val data = spark.range(nRows).select(
      pmod(hash(col("id")), lit(4096)).as("x"),
      pmod(hash(col("id"), lit(1)), lit(4096)).as("y"),
      col("id").as("payload"))
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    val (_, zWriteSec) = time {
      ZOrder.writeZOrdered(data, s"$dir/z", Seq("x", "y"), bits = 12, nFiles = 64)
    }
    val (_, cWriteSec) = time {
      data.withColumn("__k", col("x"))
        .repartitionByRange(64, col("__k")).sortWithinPartitions(col("__k"))
        .drop("__k").write.mode("overwrite").parquet(s"$dir/ctl")
    }
    def envelopeHits(path: String): Long =
      ZOrder.fileEnvelopes(spark.read.parquet(path), Seq("y"))
        .filter(col("min_y") <= 2112 && col("max_y") >= 2048).count()
    def yBox(path: String): Long =
      spark.read.parquet(path).filter(col("y").between(2048, 2112)).count()
    def xyBox(path: String): Long =
      spark.read.parquet(path)
        .filter(col("x").between(1024, 1088) && col("y").between(2048, 2112)).count()
    def minOf2(f: => Long): (Long, Double) = {
      val (r1, s1) = time(f); val (_, s2) = time(f); (r1, math.min(s1, s2))
    }
    val (zRows, zSec) = minOf2(yBox(s"$dir/z"))
    val (cRows, cSec) = minOf2(yBox(s"$dir/ctl"))
    val (zxyRows, zxySec) = minOf2(xyBox(s"$dir/z"))
    val (cxyRows, cxySec) = minOf2(xyBox(s"$dir/ctl"))
    require(zRows == cRows && zxyRows == cxyRows, "layouts must agree on results")
    println(
      s"""{"workload":{"rows":$nRows,"files":64,"domain":"4096x4096","ybox_sel":${zRows.toDouble / nRows}},
         |"write_sec":{"zorder":$zWriteSec,"xsorted":$cWriteSec},
         |"file_hits_ybox":{"zorder":${envelopeHits(s"$dir/z")},"xsorted":${envelopeHits(s"$dir/ctl")}},
         |"ybox_scan_sec":{"zorder":$zSec,"xsorted":$cSec},
         |"xybox_scan_sec":{"zorder":$zxySec,"xsorted":$cxySec},
         |"rows_returned":{"ybox":$zRows,"xybox":$zxyRows}}""".stripMargin.replace("\n", ""))
  }

  /** Temporal-family stress: nKeys daily series over nDays with ~20%
    * deterministic gaps; times one full pass of each temporal operator
    * (OHLC, TWAP, gap report, EWMA, trend fit) over the same cached
    * input. Every operator is one exchange on `key` (or one hash
    * aggregate), so rec/s here is the number that scales with executors.
    * Usage: runMain graft.tools.ScaleBench temporal [nKeys] [nDays] */
  def temporalMain(spark: SparkSession, nKeys: Long, nDays: Int): Unit = {
    import graft.operators.Temporal
    val base = spark.range(nKeys * nDays).select(
      (col("id") / nDays).cast("long").as("k"),
      (col("id") % nDays).cast("int").as("d"))
    val series = base
      .filter(pmod(hash(col("k"), col("d")), lit(5)) =!= 0) // ~20% of days absent
      .select(
        col("k").cast("string").as("key"),
        date_add(lit("2020-01-01").cast("date"), col("d")).as("period"),
        (sin(col("d") / lit(5.0)) * 10.0 + pmod(col("k"), lit(7)) + col("d") * 0.01)
          .as("value"))
      .cache()
    val inputRows = series.count() // materialize outside the timed sections
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    // time via (count, sum(result col)) — a bare count() lets column
    // pruning drop the computed column (and remove an unreferenced
    // Window entirely), timing a plan the operator never ran
    def run(df: DataFrame, c: String): Long =
      df.agg(count(lit(1)), sum(col(c))).head.getLong(0)
    val (ohlcRows, ohlcSec) = time(run(Temporal.ohlcBars(series), "close"))
    val (twapRows, twapSec) = time(run(Temporal.twap(series), "twap"))
    val (gapRows, gapSec) = time(run(Temporal.gapReport(series), "gap_days"))
    val (ewmaRows, ewmaSec) = time(run(Temporal.ewma(series, 0.5, 10), "ewma"))
    val (trendRows, trendSec) = time(run(Temporal.trendFit(series, "2020-01-01"), "forecast"))
    val (holtRows, holtSec) = time(
      run(graft.operators.Forecast.holt(series, 0.5, 0.5, 7).toDF(), "forecast"))
    println(
      s"""{"workload":{"keys":$nKeys,"days":$nDays,"input_rows":$inputRows},
         |"ohlc":{"sec":$ohlcSec,"rows":$ohlcRows,"rec_per_sec":${(inputRows / ohlcSec).toLong}},
         |"twap":{"sec":$twapSec,"rows":$twapRows,"rec_per_sec":${(inputRows / twapSec).toLong}},
         |"gaps":{"sec":$gapSec,"rows":$gapRows,"rec_per_sec":${(inputRows / gapSec).toLong}},
         |"ewma":{"sec":$ewmaSec,"rows":$ewmaRows,"rec_per_sec":${(inputRows / ewmaSec).toLong}},
         |"trend":{"sec":$trendSec,"rows":$trendRows,"rec_per_sec":${(inputRows / trendSec).toLong}},
         |"holt":{"sec":$holtSec,"rows":$holtRows,"rec_per_sec":${(inputRows / holtSec).toLong}}}"""
        .stripMargin.replace("\n", ""))
  }

  /** Exact-vs-banded pair-correlation A/B: nKeys daily series with
    * planted co-moving pairs (key 2i+1 mirrors key 2i, sign flipping by
    * parity so both correlation directions are exercised); times the
    * O(keys²) exact screen against the sign-LSH candidate screen and
    * reports how many of the exact top-k the banded path recovered.
    * Usage: runMain graft.tools.ScaleBench paircorr [nKeys] [nDays] */
  def pairCorrMain(
      spark: SparkSession,
      nKeys: Long,
      nDays: Int,
      bandedOnly: Boolean = false): Unit = {
    import graft.operators.Temporal
    val base = spark.range(nKeys * nDays).select(
      (col("id") / nDays).cast("long").as("k"),
      (col("id") % nDays).cast("int").as("d"))
    // every even key is IID hash noise (uncorrelated with everything, so
    // the exact top-k separates cleanly: |corr| ~ N(0, 1/sqrt(nDays)) off
    // the plant); its odd partner MIRRORS it (anti-correlated) plus a 5%
    // jitter. A shared parametric family (e.g. sinusoids) would make
    // unrelated keys genuinely correlated and the candidate set densely,
    // correctly, quadratic — structure, not a screen property.
    def noiseOf(k: Column) =
      pmod(hash(k, col("d")), lit(1000)).cast("double") / 1000.0 - 0.5
    val even = (col("k") / 2).cast("long") * 2
    val jitter = pmod(hash(col("k"), col("d"), lit(7)), lit(1000)).cast("double") / 20000.0
    val series = base.select(
      col("k").cast("string").as("key"),
      date_add(lit("2020-01-01").cast("date"), col("d")).as("period"),
      (when(pmod(col("k"), lit(2)) === 0, noiseOf(even)).otherwise(-noiseOf(even)) * 10.0
        + jitter).as("value")).cache()
    val inputRows = series.count()
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    val topK = 200
    // LSH sizing scales with the corpus: the canonical bucket space is
    // 2^(nBits-1), and selectivity needs ~O(1) keys per bucket, so
    // nBits ~ log2(nKeys) + margin. (The registered m35 uses 3x5 — sized
    // for the 150-key harness; this A/B sizes for ITS corpus. Fixed
    // small-corpus bits at 5000 keys invert the win: 4 canonical buckets
    // put ~1250 keys in each, and the candidate join dwarfs the exact
    // screen. Bits are the knob, not the verdict.)
    val (nBits, nBands) = Temporal.bandSizing(nKeys, nDays)
    val (exact, exactSec) =
      if (bandedOnly) (Array.empty[org.apache.spark.sql.Row], Double.NaN)
      else time(Temporal.pairCorrelations(series, minOverlap = 10, topK = topK).collect())
    val (banded, bandedSec) = time(
      Temporal.pairCorrelationsBanded(
        series, "2020-01-01", slotDays = 1,
        nBits = nBits, nBands = nBands, minOverlap = 10, topK = topK).collect())
    // with bandedOnly the planted ground truth stands in for the exact
    // screen: the strongest |corr| pairs are the constructed (2i, 2i+1)
    val hit =
      if (bandedOnly)
        banded.count(r => r.getString(0).toLong / 2 == r.getString(1).toLong / 2)
      else {
        val exactSet = exact.map(r => (r.getString(0), r.getString(1))).toSet
        banded.count(r => exactSet((r.getString(0), r.getString(1))))
      }
    // bandedOnly has no exact pass: emit JSON null, never NaN (NaN is
    // not a JSON literal and breaks downstream parsers)
    val exactJson = if (bandedOnly) "null" else exactSec.toString
    val speedupJson = if (bandedOnly) "null" else (exactSec / bandedSec).toString
    println(
      s"""{"workload":{"keys":$nKeys,"days":$nDays,"input_rows":$inputRows,"top_k":$topK},
         |"exact":{"sec":$exactJson,"pairs_considered":${nKeys * (nKeys - 1) / 2}},
         |"banded":{"sec":$bandedSec,"recall_at_k":${hit.toDouble / topK}},
         |"speedup":$speedupJson}""".stripMargin.replace("\n", ""))
  }

  /** Scaling-exponent probe over the heaviest REGISTERED queries: run
    * each at 1×/4×/16× synthetic corpus scale and fit wall ∝ rows^e
    * from the endpoints. The bench gate measures one SF only; this is
    * the directly-measured form of "would the plan survive 100×" —
    * e ≈ 1 is the scalable shape, e > [[suiteFlagExponent]] gets
    * flagged (a super-linear query needs a documented reason, like an
    * exact verifier whose output itself grows quadratically).
    *
    * Scaled corpora are built from the harness tables by unioning
    * VOCABULARY-DISJOINT copies: copy c prefixes every whitespace token
    * with `c<c>x` (so near-dup density, LSH bucket sizes, and join
    * fan-outs stay constant — duplicating text verbatim would grow
    * duplicate groups ∝ copies and conflate workload density with
    * volume), remaps ids by + c·N, and nudges embeddings by c·10⁻³
    * (distinct vectors, same distribution). All other tables are
    * symlinked unscaled, so any registered query runs.
    *
    * JIT is warmed by one untimed pass at the base dir; each timed run
    * then starts from a cleared [[graft.sources.StagingCache]] and its
    * own scale dir (distinct ModelCache keys), so 1× and 16× are
    * equally cold and cache reuse cannot inflate the exponent.
    * Usage: runMain graft.tools.ScaleBench suite [outDirRoot] [query ...] */
  /** BM25 retrieval stress: a query batch against `nDocs` synthetic
    * docs (~30 tokens each over a mixed common/rare vocabulary). Times
    * the full inverted-index probe — tokenize → postings → df/avgdl →
    * candidate-only scoring → per-query top-10 — plus the d67 metric
    * fold over AND-relevance qrels. The expectation is linear in
    * corpus size: every stage is a scan or a partial-aggregated
    * shuffle, and scoring touches only postings of query terms.
    * Usage: runMain graft.tools.ScaleBench retrieval [nDocs] [nQueries] */
  def retrievalMain(spark: SparkSession, nDocs: Long, nQueries: Int): Unit = {
    import graft.functions.Retrieval
    // 20 common-vocab tokens (2k terms — high df) + 10 rare tokens
    // (nDocs/10 terms — low df) per doc
    val body = concat_ws(" ",
      (0 until 20).map(j => concat(lit("t"), pmod(hash(col("id"), lit(j)), lit(2000)))) ++
        (0 until 10).map(j =>
          concat(lit("r"), pmod(hash(col("id"), lit(100 + j)), lit(math.max(10L, nDocs / 10))))): _*)
    val docs = spark.range(nDocs)
      .select(col("id").as("doc_id"), body.as("text")).cache()
    val total = docs.count()
    // 3-term queries: two common + one rare — the realistic shape (IDF
    // must separate the rare term's postings from the common floods)
    val queries = spark.range(nQueries).select(
      col("id").as("query_id"),
      concat_ws(" ",
        concat(lit("t"), pmod(hash(col("id"), lit(1)), lit(2000))),
        concat(lit("t"), pmod(hash(col("id"), lit(2)), lit(2000))),
        concat(lit("r"), pmod(hash(col("id"), lit(3)), lit(math.max(10L, nDocs / 10))))).as("query"))
      .cache()
    queries.count()
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    val (nRanked, rankSec) = time {
      Retrieval.bm25TopK(docs, "text", "doc_id", queries, "query_id", "query", 10).count()
    }
    val (meanNdcg, evalSec) = time {
      val ranked = Retrieval.bm25TopK(docs, "text", "doc_id", queries, "query_id", "query", 10)
      // qrels: docs carrying the query's RARE term — the high-IDF
      // signal BM25 is supposed to surface (3-term AND-relevance is
      // empty at this vocabulary; single-term sets are ~nDocs·10/(nDocs/10)
      // ≈ 100 docs per query)
      val qt = queries.select(col("query_id"),
          explode(split(col("query"), " ")).as("term"))
        .filter(col("term").startsWith("r")).distinct()
      val qrels = docs
        .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("term"))
        .join(broadcast(qt), Seq("term"))
        .select(col("query_id"), col("doc_id")).distinct()
      val m = Retrieval.rankingMetrics(ranked, qrels, "query_id", "doc_id", 10)
        .agg(avg(col("ndcg_at_k"))).head()
      if (m.isNullAt(0)) -1.0 else m.getDouble(0)
    }
    // the deployment shape: corpus-side work paid ONCE at build, then
    // every query batch reads stored term-clustered postings
    val root = java.nio.file.Files.createTempDirectory("graft_bm25idx").toString
    val (_, buildSec) = time {
      Retrieval.buildIndex(docs.filter(col("doc_id") % 10 =!= 0), "text", "doc_id", root)
    }
    val (_, appendSec) = time {
      Retrieval.appendToIndex(
        docs.filter(col("doc_id") % 10 === 0), "text", "doc_id", root, batchId = 1L)
    }
    val (nServed, serveSec) = time {
      Retrieval.bm25FromIndex(spark, root, queries, "query_id", "query", 10).count()
    }
    // exact phrase audit at corpus scale: positional postings explode +
    // anchor fold, restricted to phrase-term postings by the broadcast
    val phrases = spark.range(5).select(
      col("id").as("phrase_id"),
      concat_ws(" ",
        concat(lit("t"), pmod(hash(col("id"), lit(11)), lit(2000))),
        concat(lit("t"), pmod(hash(col("id"), lit(12)), lit(2000)))).as("phrase"))
    val (nPhraseHits, phraseSec) = time {
      Retrieval.phraseSearch(docs, "text", "doc_id", phrases, "phrase_id", "phrase").count()
    }
    println(
      s"""{"workload":{"docs":$total,"queries":$nQueries,"k":10},
         |"rank":{"sec":$rankSec,"docs_per_s":${(total / rankSec).toLong},"rows":$nRanked},
         |"rank_plus_eval":{"sec":$evalSec,"mean_ndcg":$meanNdcg},
         |"index":{"build_sec":$buildSec,"append_sec":$appendSec,
         |"serve_sec":$serveSec,"rows":$nServed},
         |"phrase":{"sec":$phraseSec,"docs_per_s":${(total / phraseSec).toLong},
         |"hit_docs":$nPhraseHits}}"""
        .stripMargin.replace("\n", ""))
    docs.unpersist(); queries.unpersist()
  }

  /** SAX screen stress: `nKeys` daily series over `len` days with two
    * planted pair kinds (partner = AFFINE transform 3·base+40 of its
    * twin in both — z-normalization must erase it): `nKeys/100`
    * STRUCTURED pairs (diverse seasonal shapes: per-pair frequency,
    * phase, and jitter) and `nKeys/100` IID pairs (pure hash noise —
    * correlated, but shapeless at PAA granularity). The remaining keys
    * are unrelated noise. The exact screen at this scale is the
    * measured ~hours m32 shape (PERF.md paircorr); the SAX screen is
    * one window pass + a word equi-join, run uncapped and with the
    * maxBucket=64 hot-word cap to price the cap's recall tradeoff per
    * shape kind.
    * Usage: runMain graft.tools.ScaleBench sax [nKeys] [len] */
  def saxMain(spark: SparkSession, nKeys: Long, len: Int): Unit = {
    import graft.operators.Sax
    val nPlanted = math.max(1L, nKeys / 100)
    // keys [0, 2P): structured pairs (2i, 2i+1); [2P, 4P): IID pairs;
    // the rest hash noise
    val pairId = (col("k") / 2).cast("long")
    val isPartner = pmod(col("k"), lit(2)) === 1
    val structured =
      sin(col("d").cast("double") * (lit(1.0) + pmod(pairId, lit(5)).cast("double"))
          * lit(2 * math.Pi / 60) + pmod(pairId, lit(12)).cast("double") * lit(math.Pi / 6))
        .multiply(lit(50.0))
        .plus(pmod(hash(pairId, col("d")), lit(100)).cast("double") / 10.0)
    val iid = pmod(hash(pairId, col("d"), lit(3)), lit(1000)).cast("double") / 10.0
    val rows = spark.range(nKeys).crossJoin(
        spark.range(len).select(col("id").as("d")))
      .select(col("id").as("k"), col("d"))
      .select(
        concat(lit("k"), col("k")).as("key"),
        date_add(to_date(lit("2024-01-01")), col("d").cast("int")).as("period"),
        when(col("k") < 2 * nPlanted, structured)
          .when(col("k") < 4 * nPlanted, iid)
          .otherwise(pmod(hash(col("k"), col("d"), lit(7)), lit(1000)).cast("double") / 10.0)
          .multiply(when(isPartner && col("k") < 4 * nPlanted, lit(3.0)).otherwise(lit(1.0)))
          .plus(when(isPartner && col("k") < 4 * nPlanted, lit(40.0)).otherwise(lit(0.0)))
          .as("value"))
      .cache()
    rows.count()
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    def run(cap: Int): ((Long, Long), Double) = time {
      val pairs = Sax.saxScreen(rows, w = 8, minLen = 10, minOverlap = 10,
          topK = nPlanted.toInt * 4, maxBucket = cap)
        .filter(col("correlation") >= 0.999)
        .select(col("key_a"), col("key_b")).collect()
        .map(r => (r.getString(0).drop(1).toLong, r.getString(1).drop(1).toLong))
        .filter { case (a, b) => a / 2 == b / 2 }
      (pairs.count(_._1 < 2 * nPlanted).toLong,
        pairs.count { case (a, _) => a >= 2 * nPlanted && a < 4 * nPlanted }.toLong)
    }
    val ((sCap, iCap), secCapped) = run(64)
    val ((s0, i0), sec) = run(0)
    println(
      s"""{"workload":{"keys":$nKeys,"days":$len,"planted_structured":$nPlanted,
         |"planted_iid":$nPlanted,"w":8},
         |"sax_screen":{"sec":$sec,"keys_per_s":${(nKeys / sec).toLong},
         |"recall_structured":${s0.toDouble / nPlanted},"recall_iid":${i0.toDouble / nPlanted}},
         |"sax_screen_cap64":{"sec":$secCapped,"keys_per_s":${(nKeys / secCapped).toLong},
         |"recall_structured":${sCap.toDouble / nPlanted},"recall_iid":${iCap.toDouble / nPlanted}}}"""
        .stripMargin.replace("\n", ""))
    rows.unpersist()
  }

  /** Per-audit cost of the phrase/decontamination workload: the direct
    * path ([[graft.functions.Retrieval.phraseSearch]]) re-tokenizes the
    * corpus on EVERY audit; the positional index pays the tokenize once
    * at build and each audit probes stored term-clustered postings.
    * `nAudits` repeated audits model the real decontamination sweep
    * (thousands of eval-sentence batches against one corpus).
    * Usage: runMain graft.tools.ScaleBench phraseindex [nDocs] [nAudits] */
  def phraseIndexMain(
      spark: SparkSession, nDocs: Long, nAudits: Int,
      phrasesPerAudit: Long = 5L): Unit = {
    import graft.functions.Retrieval
    // the retrieval-mode corpus shape: 20 common-vocab + 10 rare tokens
    val body = concat_ws(" ",
      (0 until 20).map(j => concat(lit("t"), pmod(hash(col("id"), lit(j)), lit(2000)))) ++
        (0 until 10).map(j =>
          concat(lit("r"), pmod(hash(col("id"), lit(100 + j)), lit(math.max(10L, nDocs / 10))))): _*)
    val docs = spark.range(nDocs)
      .select(col("id").as("doc_id"), body.as("text")).cache()
    val total = docs.count()
    // each audit uses ITS OWN phrase batch (distinct eval sentences per
    // sweep) so no result can be cached across audits. Above 2000
    // phrases BOTH tokens draw from the RARE space — the 10⁵-sentence
    // decontamination-sweep shape whose vocabulary exceeds the literal
    // pushdown cap (exercising the bloom fallback on the stored path)
    // AND stays realistically wide: sampling the 2000-term common
    // vocabulary at 10⁵ phrases puts every common term in ~50 eval
    // sentences, a 50× postings⋈phrase fan-out no real eval list has
    // (measured OOM at 2M docs)
    val wideVocab = phrasesPerAudit > 2000
    // the wide eval vocabulary draws from a space 100× the corpus'
    // rare vocabulary: a real eval list is mostly ABSENT from the
    // corpus (~1% of its terms exist in it), which is what makes the
    // stored path's bloom probe shed postings. Drawing eval terms from
    // the corpus vocabulary itself (first attempt) made ~63% of rare
    // postings TRUE matches — "pruning" that keeps most of the table
    // measures nothing but overhead.
    val evalSpace = lit(math.max(1000L, nDocs * 10))
    def phrases(audit: Int) = spark.range(phrasesPerAudit).select(
      col("id").as("phrase_id"),
      concat_ws(" ",
        if (wideVocab)
          concat(lit("r"), pmod(hash(col("id"), lit(10 + audit)), evalSpace))
        else
          concat(lit("t"), pmod(hash(col("id"), lit(10 + audit)), lit(2000))),
        if (wideVocab)
          concat(lit("r"), pmod(hash(col("id"), lit(60 + audit)), evalSpace))
        else
          concat(lit("t"), pmod(hash(col("id"), lit(60 + audit)), lit(2000)))).as("phrase"))
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    val (directHits, directSec) = time {
      (0 until nAudits).map(a => Retrieval
        .phraseSearch(docs, "text", "doc_id", phrases(a), "phrase_id", "phrase")
        .count()).sum
    }
    val root = java.nio.file.Files.createTempDirectory("graft_phraseidx").toString
    val (_, buildSec) = time {
      Retrieval.buildPositionalIndex(docs, "text", "doc_id", root)
    }
    val (servedHits, serveSec) = time {
      (0 until nAudits).map(a => Retrieval
        .phraseSearchFromIndex(spark, root, phrases(a), "phrase_id", "phrase")
        .count()).sum
    }
    require(servedHits == directHits, s"index served $servedHits != direct $directHits")
    // the ANCHOR path: first-k-gram fp probe over the fp-clustered
    // anchor table + exact positional verify of the hit phrases only —
    // the over-cap regime's bounded-probe form (the eval-list size
    // stops correlating with surviving row groups; PERF.md's
    // 100k-sentence parity asymptote is what this exists to beat).
    // k = 2 because the synthetic phrases are 2 tokens.
    val (_, anchorBuildSec) = time {
      Retrieval.appendToAnchorIndex(docs, "text", "doc_id", root, batchId = 0L, k = 2)
    }
    val (anchorHits, anchorSec) = time {
      (0 until nAudits).map(a => Retrieval
        .phraseSearchViaAnchors(spark, root, phrases(a), "phrase_id", "phrase")
        .count()).sum
    }
    require(anchorHits == directHits, s"anchors served $anchorHits != direct $directHits")
    // the OVER-CAP branch (candidates stay distributed, served from the
    // one-scan localCheckpoint): force the cap below any real hit set
    // and re-run the same audits — results identical, and per-audit
    // cost must sit in the same regime as the under-cap form (the
    // pre-fix shape re-ran the full anchor scan once per downstream
    // consumer, ~3x)
    val cap0 = Retrieval.anchorCandCap
    val (overHits, overSec) = try {
      Retrieval.anchorCandCap = 1
      time {
        (0 until nAudits).map(a => Retrieval
          .phraseSearchViaAnchors(spark, root, phrases(a), "phrase_id", "phrase")
          .count()).sum
      }
    } finally Retrieval.anchorCandCap = cap0
    require(overHits == directHits,
      s"over-cap anchors served $overHits != direct $directHits")
    val (nSnips, snipDirectSec) = time {
      Retrieval.snippets(docs, "text", "doc_id", phrases(0), "phrase_id", "phrase", 3).count()
    }
    val (nSnipsIdx, snipServeSec) = time {
      Retrieval.snippetsFromIndex(spark, root, phrases(0), "phrase_id", "phrase", 3).count()
    }
    require(nSnipsIdx == nSnips, s"index snippets $nSnipsIdx != direct $nSnips")
    println(
      s"""{"workload":{"docs":$total,"audits":$nAudits,"phrases_per_audit":$phrasesPerAudit},
         |"direct":{"sec":$directSec,"sec_per_audit":${directSec / nAudits},
         |"docs_per_s":${(total * nAudits / directSec).toLong},"hits":$directHits},
         |"index":{"build_sec":$buildSec,"serve_sec":$serveSec,
         |"sec_per_audit":${serveSec / nAudits},"speedup":${directSec / serveSec}},
         |"anchors":{"build_sec":$anchorBuildSec,"serve_sec":$anchorSec,
         |"sec_per_audit":${anchorSec / nAudits},"speedup_vs_direct":${directSec / anchorSec},
         |"speedup_vs_index":${serveSec / anchorSec},"hits":$anchorHits},
         |"anchors_overcap":{"serve_sec":$overSec,
         |"sec_per_audit":${overSec / nAudits},"vs_undercap":${overSec / anchorSec}},
         |"snippets":{"direct_sec":$snipDirectSec,"serve_sec":$snipServeSec,
         |"rows":$nSnips}}"""
        .stripMargin.replace("\n", ""))
    docs.unpersist()
  }

  /** Streaming cost-growth gate: drives `nBatches` micro-batches through
    * the four accumulating-state shapes — the StampedFold whole-state
    * rewrite (StreamingHll), the committed-batch-dir index append
    * (Retrieval.appendToIndex: postings + stats + df dirs), the
    * StreamingDedup bloom/exact-confirm fold, and the StreamingDecontam
    * per-batch audit against a 10k-sentence eval list — and records
    * per-batch wall. The dedup and decontam loops run the compactEvery
    * cadence INSIDE the timed wall (one compaction lands in the early
    * window, one in the last decile), so the gate prices the
    * maintenance cost amortized in rather than hiding it. Per-batch
    * cost must stay ~flat as state accumulates: the gate compares the
    * mean wall of the LAST decile of batches to the mean of deciles
    * 2-4 (decile 1 excluded — JIT/codegen warmup) and flags any
    * operator whose ratio exceeds [[streamFlagRatio]].
    * Usage: runMain graft.tools.ScaleBench stream [nBatches] [batchRows] */
  /** The streaming-op names `streamMain`'s op filter accepts. */
  val streamOps: Seq[String] = Seq(
    "hll_stamped_fold", "index_append", "dedup_fold", "decontam",
    "decontam_anchored", "ann_append")

  /** `only`: run just these ops (empty = all six). Long gate runs
    * (250+ batches) should be SCHEDULED AS ONE OP PER JVM — six
    * sequential long-lived ops in one driver accumulate enough
    * bookkeeping to go heap-bound (measured: 8g OOM, 16g GC-bound at
    * 250×10000×6), and a real always-on deployment runs one op per
    * driver anyway, so per-op isolation is also the honest shape. */
  def streamMain(
      spark: SparkSession,
      nBatches: Int,
      batchRows: Long,
      only: Set[String] = Set.empty): Unit = {
    val unknownOps = only -- streamOps.toSet
    require(unknownOps.isEmpty,
      s"unknown stream ops: ${unknownOps.mkString(", ")} (valid: ${streamOps.mkString(", ")})")
    def runOp(n: String): Boolean = only.isEmpty || only.contains(n)
    // the growth metric compares deciles 2-4 to the last decile; below
    // 10 batches those windows are empty or warmup-contaminated and the
    // ratio degenerates to NaN (invalid JSON in the artifact)
    require(nBatches >= 10, s"stream mode needs >= 10 batches for the decile ratio, got $nBatches")
    import graft.functions.Retrieval
    import graft.streaming.{StreamingDedup, StreamingHll}
    // host load bracketing each op's loop — the growth ratio compares
    // early batches to late batches of the SAME loop, so a co-tenant
    // burst mid-loop reads as fake growth; record what the Bench
    // artifact records so a flagged run can be adjudicated (the m36/m37
    // round-8 lesson)
    def loadavg(): String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString
        .split("\\s+").take(3).mkString("[", ",", "]")
      catch { case _: Exception => "[]" }
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def growth(walls: Seq[Double]): (Double, Double, Double) = {
      val d = math.max(walls.length / 10, 1)
      val early = walls.slice(d, 4 * d)
      val late = walls.takeRight(d)
      val (e, l) = (early.sum / early.size, late.sum / late.size)
      (e, l, l / e)
    }
    // 1. StampedFold whole-state rewrite: state is O(256 registers)
    // regardless of history, so the read-merge-commit round trip must
    // not grow with batch index
    val hllState = tmp("graft_stream_hll")
    val loadHll = loadavg()
    val hllWalls = if (!runOp("hll_stamped_fold")) Seq.empty[Double]
    else (0 until nBatches).map { b =>
      val regs = (0 until 256).map(k => k -> ((b * 31 + k * 7) % 28 + 1)).toMap
      time(StreamingHll.foldBatch(spark, hllState, regs, b.toLong))
    }
    // 2. index append: each batch writes ONLY its own three dirs; the
    // skip-check lists committed ids (driver-side listing, O(batches))
    // but never reads earlier batches' data
    val idxRoot = tmp("graft_stream_idx")
    val loadIdx = loadavg()
    val idxWalls = if (!runOp("index_append")) Seq.empty[Double]
    else (0 until nBatches).map { b =>
      val docs = spark.range(b * batchRows, (b + 1) * batchRows).select(
        col("id").as("doc_id"),
        concat_ws(" ", (0 until 12).map(j =>
          concat(lit("t"), pmod(hash(col("id"), lit(j)), lit(2000)))): _*).as("text"))
      time(Retrieval.appendToIndex(docs, "text", "doc_id", idxRoot, b.toLong))
    }
    // 3. streaming dedup: the bloom has FIXED geometry (sized for the
    // stream's lifetime total up front), so the batch-side prefilter is
    // flat; the exact-confirm join reads the accumulated novel-fp index
    // — the shape this gate exists to measure honestly
    val dedupOut = tmp("graft_stream_dd_out")
    val dedupIdx = tmp("graft_stream_dd_idx")
    val loadDedup = loadavg()
    val dedupWalls = if (!runOp("dedup_fold")) Seq.empty[Double] else {
    val emptyStatic = spark.range(0).select(col("id").as("fp"))
    val session = new StreamingDedup.Session(
      spark, emptyStatic, dedupOut, dedupIdx, "text", "doc_id",
      shingleSize = 8, fpp = 0.01, dropAt = 0.5,
      expectedTotalKeys = math.max(1000000L, nBatches * batchRows * 40L),
      portable = true)
    (0 until nBatches).map { b =>
      // ~20% of each batch duplicates batch-0 content (realistic crawl
      // mix: the dedup decision path and the novel-append path both run)
      val docs = spark.range(b * batchRows, (b + 1) * batchRows).select(
        col("id").as("doc_id"),
        concat_ws(" ", (0 until 40).map(j => concat(lit("w"),
          pmod(hash(when(pmod(col("id"), lit(5)) === 0, col("id") % batchRows)
            .otherwise(col("id")), lit(j)), lit(100000)))): _*).as("text"))
      time {
        // the compactEvery cadence, timed INSIDE the per-batch wall —
        // the gate must stay flat with the maintenance cost amortized
        // in, not with it hidden in a side channel. Cadence 24 puts one
        // compaction in the early window (b=24) and one in the last
        // decile (b=96), so the ratio samples the maintenance cost on
        // both sides.
        if (b > 0 && b % 24 == 0) StreamingDedup.compactFpIndex(spark, dedupIdx)
        session.processBatch(docs, b.toLong)
      }
    }
    }
    // 4. streaming decontamination: per-batch cost must be batch-
    // proportional (the batch's OWN postings probed against the eval
    // list) no matter how much index has accumulated — history was
    // audited on arrival. 10k-sentence eval list, 2-token phrases over
    // the same vocabulary as the corpus so hits actually fire.
    val deconIdx = tmp("graft_stream_dc_idx")
    val deconOut = tmp("graft_stream_dc_out")
    lazy val evalPhrases = {
      val p = spark.range(10000).select(
        col("id").as("phrase_id"),
        concat_ws(" ",
          concat(lit("t"), pmod(hash(col("id"), lit(11)), lit(2000))),
          concat(lit("t"), pmod(hash(col("id"), lit(12)), lit(2000)))).as("phrase"))
        .cache()
      p.count()
      p
    }
    val loadDecon = loadavg()
    val deconWalls = if (!runOp("decontam")) Seq.empty[Double]
    else (0 until nBatches).map { b =>
      val docs = spark.range(b * batchRows, (b + 1) * batchRows).select(
        col("id").as("doc_id"),
        concat_ws(" ", (0 until 12).map(j =>
          concat(lit("t"), pmod(hash(col("id"), lit(j)), lit(2000)))): _*).as("text"))
      time {
        if (b > 0 && b % 24 == 0)
          graft.functions.Retrieval.compactPositionalIndex(spark, deconIdx)
        graft.streaming.StreamingDecontam.processBatch(
          docs, b.toLong, "text", "doc_id",
          evalPhrases, "phrase_id", "phrase", deconIdx, deconOut,
          minOccurrences = 1)
      }
    }
    // omitted (not 0) when the op is filtered out: the artifact must
    // distinguish "ran with zero hits" from "not run"
    val deconHitsJson =
      if (!runOp("decontam")) ""
      else {
        val n = try spark.read.parquet(deconOut).count()
        catch { case _: Exception => 0L }
        s""""decontam_hits":$n,"""
      }
    // 4b. anchored decontamination: same monitor with anchorK — each
    // batch additionally appends its 2-gram anchor fps (k must not
    // exceed the 2-token eval phrases or every phrase routes classic)
    // and the cadence
    // compacts BOTH tables. The extra per-batch cost is one more pass
    // over the BATCH (never history), so the growth gate must stay as
    // flat as the plain decontam row; at the end the over-cap re-audit
    // path is asserted identical to the stored-postings audit over the
    // whole accumulated root.
    val deconAIdx = tmp("graft_stream_dca_idx")
    val deconAOut = tmp("graft_stream_dca_out")
    val loadDeconA = loadavg()
    val deconAWalls = if (!runOp("decontam_anchored")) Seq.empty[Double]
    else (0 until nBatches).map { b =>
      val docs = spark.range(b * batchRows, (b + 1) * batchRows).select(
        col("id").as("doc_id"),
        concat_ws(" ", (0 until 12).map(j =>
          concat(lit("t"), pmod(hash(col("id"), lit(j)), lit(2000)))): _*).as("text"))
      time {
        if (b > 0 && b % 24 == 0) {
          graft.functions.Retrieval.compactPositionalIndex(spark, deconAIdx)
          graft.functions.Retrieval.compactAnchorIndex(spark, deconAIdx)
        }
        graft.streaming.StreamingDecontam.processBatch(
          docs, b.toLong, "text", "doc_id",
          evalPhrases, "phrase_id", "phrase", deconAIdx, deconAOut,
          minOccurrences = 1, anchorK = Some(2))
      }
    }
    if (runOp("decontam_anchored")) {
      // one DETERMINISTIC 500-phrase subset fed to BOTH audits:
      // limit() without an ordering is not guaranteed to pick the same
      // rows across two separate actions, so the equality below must
      // not compare two independently-limited executions
      val audit500 = evalPhrases.filter(col("phrase_id") < 500)
      val anchorAudit = graft.functions.Retrieval.phraseSearchViaAnchors(
        spark, deconAIdx, audit500, "phrase_id", "phrase")
        .agg(count(lit(1)), sum(col("doc_id"))).head()
      val directAudit = graft.functions.Retrieval.phraseSearchFromIndex(
        spark, deconAIdx, audit500, "phrase_id", "phrase")
        .agg(count(lit(1)), sum(col("doc_id"))).head()
      require(anchorAudit == directAudit,
        s"anchor re-audit diverged: $anchorAudit vs $directAudit")
    }
    // 5. streaming ANN-index append: route + PQ-encode each batch under
    // the FROZEN model (trained once on the base, memoized) — per-batch
    // cost is the batch's own two broadcast-join scans and must stay
    // flat as the codes table accumulates (nothing reads it back on the
    // append path; the cadence compaction is the only accumulated-state
    // touch, amortized in-wall like the others)
    val annRoot = tmp("graft_stream_ann")
    val loadAnn = loadavg()
    val annWalls = if (!runOp("ann_append")) Seq.empty[Double] else {
      def embOf(lo: Long, hi: Long) = spark.range(lo, hi).select(
        col("id").as("vec_id"),
        array((0 until 16).map(j =>
          (pmod(hash(col("id"), lit(j)), lit(1000)).cast("double") / 500.0 - 1.0)): _*)
          .as("embedding"))
      val annBase = embOf(-10000L, 0L).cache()
      annBase.count()
      val walls = (0 until nBatches).map { b =>
        val batch = embOf(b * batchRows, (b + 1) * batchRows)
        time {
          if (b > 0 && b % 24 == 0)
            graft.streaming.StreamingAnnIndex.compactAnnIndex(spark, annRoot)
          graft.streaming.StreamingAnnIndex.processBatch(
            batch, b.toLong, annBase, "vec_id", "embedding", annRoot,
            nLists = 16, nSub = 8, kSub = 16, iters = 2, sampleN = 10000)
        }
      }
      annBase.unpersist()
      walls
    }
    // compaction payoff on the per-micro-batch-dir index the append
    // loop just built: serve cost with one dir per batch vs compacted
    val compactionJson = if (!runOp("index_append")) "" else {
      val queries = spark.range(50).select(
        col("id").as("query_id"),
        concat_ws(" ",
          concat(lit("t"), pmod(hash(col("id"), lit(1)), lit(2000))),
          concat(lit("t"), pmod(hash(col("id"), lit(2)), lit(2000)))).as("query"))
      def serve(): Double = {
        val t0 = System.nanoTime()
        Retrieval.bm25FromIndex(spark, idxRoot, queries, "query_id", "query", 10).count()
        (System.nanoTime() - t0) / 1e9
      }
      val serveFragmented = serve()
      val tc0 = System.nanoTime()
      Retrieval.compactIndex(spark, idxRoot)
      val compactSec = (System.nanoTime() - tc0) / 1e9
      val serveCompacted = serve()
      s""""index_compaction":{"serve_fragmented_sec":$serveFragmented,""" +
        s""""compact_sec":$compactSec,"serve_compacted_sec":$serveCompacted},"""
    }
    val loadEnd = loadavg()
    val ops = Seq(
      ("hll_stamped_fold", hllWalls, loadHll), ("index_append", idxWalls, loadIdx),
      ("dedup_fold", dedupWalls, loadDedup), ("decontam", deconWalls, loadDecon),
      ("decontam_anchored", deconAWalls, loadDeconA),
      ("ann_append", annWalls, loadAnn)).filter(_._2.nonEmpty)
    val rows = ops.map { case (name, walls, load) =>
      val (e, l, r) = growth(walls)
      (name, e, l, r, load)
    }
    val flagged = rows.filter(_._4 > streamFlagRatio).map(_._1)
    val opsJson = rows.map { case (n, e, l, r, load) =>
      s""""$n":{"batches":$nBatches,"early_sec":$e,"late_sec":$l,"ratio":$r,"loadavg_at_start":$load}"""
    }.mkString(",")
    val flaggedJson =
      if (flagged.isEmpty) "[]" else flagged.mkString("[\"", "\",\"", "\"]")
    println(s"""{"suite":"stream","batch_rows":$batchRows,$opsJson,""" +
      deconHitsJson +
      compactionJson +
      s""""loadavg_end":$loadEnd,"flagged":$flaggedJson}""")
  }

  /** Last-decile / deciles-2-4 per-batch wall ratio above which a
    * streaming operator's cost growth needs a documented reason. */
  val streamFlagRatio = 1.5

  /** Compacted-store serve cost where the STORE dominates: build the
    * BM25 + positional indexes over `nDocs` docs in `nBatches`
    * doc-disjoint committed batches, then time SERVE-ONLY (same query/
    * phrase batch) in three forms — fragmented (one dir per batch),
    * compacted (manifest c-dir + live newest), and the whole-corpus
    * direct computation — asserting identical results across all three.
    * The per-round driver artifact prices d77/d78 at sf0.01 where dir
    * plumbing dominates; this isolates the store's serve cost at a
    * scale where data does.
    * Usage: runMain graft.tools.ScaleBench compactserve [nDocs] [nBatches] */
  def compactServeMain(spark: SparkSession, nDocs: Long, nBatches: Int): Unit = {
    import graft.functions.Retrieval
    require(nBatches >= 3, s"need >= 3 batches, got $nBatches")
    val body = concat_ws(" ",
      (0 until 20).map(j => concat(lit("t"), pmod(hash(col("id"), lit(j)), lit(2000)))) ++
        (0 until 10).map(j =>
          concat(lit("r"), pmod(hash(col("id"), lit(100 + j)), lit(math.max(10L, nDocs / 10))))): _*)
    val docs = spark.range(nDocs)
      .select(col("id").as("doc_id"), body.as("text")).cache()
    docs.count()
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    val queries = spark.range(50).select(
      col("id").as("query_id"),
      concat_ws(" ",
        concat(lit("t"), pmod(hash(col("id"), lit(1)), lit(2000))),
        concat(lit("t"), pmod(hash(col("id"), lit(2)), lit(2000)))).as("query")).cache()
    val phrases = spark.range(500).select(
      col("id").as("phrase_id"),
      concat_ws(" ",
        concat(lit("t"), pmod(hash(col("id"), lit(11)), lit(2000))),
        concat(lit("t"), pmod(hash(col("id"), lit(12)), lit(2000)))).as("phrase")).cache()
    queries.count(); phrases.count()
    val bmRoot = java.nio.file.Files.createTempDirectory("graft_cserve_bm").toString
    val pRoot = java.nio.file.Files.createTempDirectory("graft_cserve_p").toString
    val (_, buildSec) = time {
      (0 until nBatches).foreach { b =>
        val part = docs.filter(pmod(col("doc_id"), lit(nBatches)) === b)
        Retrieval.appendToIndex(part, "text", "doc_id", bmRoot, b.toLong)
        Retrieval.appendToPositionalIndex(part, "text", "doc_id", pRoot, b.toLong)
      }
    }
    def bmServe(): Long =
      Retrieval.bm25FromIndex(spark, bmRoot, queries, "query_id", "query", 10).count()
    def phServe(): Long =
      Retrieval.phraseSearchFromIndex(spark, pRoot, phrases, "phrase_id", "phrase").count()
    val (bmFragHits, bmFragSec) = time(bmServe())
    val (phFragHits, phFragSec) = time(phServe())
    val (_, compactSec) = time {
      Retrieval.compactIndex(spark, bmRoot)
      Retrieval.compactPositionalIndex(spark, pRoot)
    }
    val (bmCompHits, bmCompSec) = time(bmServe())
    val (phCompHits, phCompSec) = time(phServe())
    val (bmDirectHits, bmDirectSec) = time(
      Retrieval.bm25TopK(docs, "text", "doc_id", queries, "query_id", "query", 10).count())
    val (phDirectHits, phDirectSec) = time(
      Retrieval.phraseSearch(docs, "text", "doc_id", phrases, "phrase_id", "phrase").count())
    require(bmFragHits == bmCompHits && bmCompHits == bmDirectHits,
      s"bm25 serve drift: frag=$bmFragHits comp=$bmCompHits direct=$bmDirectHits")
    require(phFragHits == phCompHits && phCompHits == phDirectHits,
      s"phrase serve drift: frag=$phFragHits comp=$phCompHits direct=$phDirectHits")
    println(
      s"""{"workload":{"docs":$nDocs,"batches":$nBatches,"queries":50,"phrases":500},
         |"build_sec":$buildSec,"compact_sec":$compactSec,
         |"bm25":{"fragmented_sec":$bmFragSec,"compacted_sec":$bmCompSec,
         |"direct_sec":$bmDirectSec,"hits":$bmDirectHits},
         |"phrase":{"fragmented_sec":$phFragSec,"compacted_sec":$phCompSec,
         |"direct_sec":$phDirectSec,"hits":$phDirectHits}}"""
        .stripMargin.replace("\n", ""))
    docs.unpersist(); queries.unpersist(); phrases.unpersist()
  }

  /** d80's serve-from-store at a scale where the store dominates: build
    * the persisted (id, bucket, codes) table over `nVecs` vectors in
    * `nBatches` committed batches under ONE frozen model, then time the
    * same top-k three ways — in-query [[Similarity.ivfPqTopK]] (routes
    * and PQ-encodes the whole corpus every call), serve-from-codes over
    * the fragmented store, and over the compacted store — asserting
    * identical results across all three (the d80 bit-invariance at
    * scale). The model memo is warmed by the build, so every timed form
    * pays serve cost only — the delta IS the encode work the store
    * amortizes away.
    * Usage: runMain graft.tools.ScaleBench annserve [nVecs] [nBatches] */
  def annServeMain(spark: SparkSession, nVecs: Long, nBatches: Int): Unit = {
    import graft.functions.Similarity
    import graft.streaming.{StateStore, StreamingAnnIndex}
    require(nBatches >= 3, s"need >= 3 batches, got $nBatches")
    // the query set is vec_id < 100: below 100 vectors the three-way
    // equality check would pass vacuously on a near-empty set
    require(nVecs >= 100, s"need >= 100 vectors for the 100-query set, got $nVecs")
    val dim = 64
    val nClusters = 200
    // the annMain generator: center(c)[j] in [-1,1) + 10% noise
    val v = spark.range(nVecs).select(
      col("id").as("vec_id"),
      transform(
        sequence(lit(0), lit(dim - 1)),
        j =>
          (pmod(hash(col("id") % nClusters, j), lit(2000)).cast("double") - 1000.0) / 1000.0 +
            (pmod(hash(col("id"), j), lit(2000)).cast("double") - 1000.0) / 10000.0)
        .as("embedding")).cache()
    v.count()
    val q = v.filter(col("vec_id") < 100).cache()
    val nQueries = q.count()
    val key = Some(s"annserve_$nVecs")
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    val root = java.nio.file.Files.createTempDirectory("graft_annserve").toString
    val (_, buildSec) = time {
      (0 until nBatches).foreach { b =>
        val encoded = Similarity.ivfPqIndexAppend(
          v, v.filter(pmod(col("vec_id"), lit(nBatches)) === b),
          "vec_id", "embedding", cacheKey = key)
        StateStore.writeBatchDir(
          encoded.repartitionByRange(col("bucket"))
            .sortWithinPartitions(col("bucket"), col("id")),
          s"$root/codes", b.toLong)
      }
    }
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val (inq, inqSec) = time {
      pairs(Similarity.ivfPqTopK(v, q, "vec_id", "embedding", 5, cacheKey = key))
    }
    val (frag, fragSec) = time {
      pairs(Similarity.ivfPqTopKFromCodes(
        StreamingAnnIndex.codesAt(spark, root), v, q, "vec_id", "embedding", 5,
        cacheKey = key))
    }
    val (_, compactSec) = time { StreamingAnnIndex.compactAnnIndex(spark, root) }
    val (comp, compServeSec) = time {
      pairs(Similarity.ivfPqTopKFromCodes(
        StreamingAnnIndex.codesAt(spark, root), v, q, "vec_id", "embedding", 5,
        cacheKey = key))
    }
    require(frag == inq, s"fragmented serve diverged: ${frag.size} vs ${inq.size} pairs")
    require(comp == inq, s"compacted serve diverged: ${comp.size} vs ${inq.size} pairs")
    v.unpersist(); q.unpersist()
    println(
      s"""{"workload":{"vecs":$nVecs,"dim":$dim,"batches":$nBatches,"queries":$nQueries,"k":5},
         |"build_sec":$buildSec,"inquery_sec":$inqSec,
         |"store_fragmented_sec":$fragSec,"compact_sec":$compactSec,
         |"store_compacted_sec":$compServeSec,
         |"speedup_vs_inquery":${inqSec / compServeSec},"pairs":${inq.size}}"""
        .stripMargin.replace("\n", ""))
  }

  /** The COMPOSED training-data pipeline gate: dedup → decontam →
    * quality → per-source cap → pack → split/export as ONE chained run
    * where every stage reads the PREVIOUS stage's on-disk parquet — the
    * cross-operator contract check per-query oracles can't see (a
    * column dropped or retyped by one stage breaks the next stage here,
    * not in any single-operator gate). Row counts of every on-disk
    * stage are asserted against the same chain composed in memory.
    * Usage: runMain graft.tools.ScaleBench pipeline [sfDir] */
  def pipelineMain(spark: SparkSession, dir: String): Unit = {
    import graft.functions.{Dedup, Packing, Sampling, TrainingExport, TextFunctions => TF}
    import graft.sources.Tables
    val out = java.nio.file.Files.createTempDirectory("graft_pipeline").toString
    val docs0 = Tables.load(spark, dir, "documents").cache()
    val evalSet = docs0.filter(col("doc_id") % 97 === 0).cache()
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    // the six stages, each a pure DataFrame => DataFrame — composed
    // twice: through disk (the gate) and in memory (the expectation)
    val stages: Seq[(String, DataFrame => DataFrame)] = Seq(
      "s1_dedup" -> (d => d.join(
        Dedup.nearDupGroups(d, "text", "doc_id", minEstJaccard = 0.5)
          .filter(col("is_canonical") === 1L).select(col("doc_id")),
        Seq("doc_id"), "left_semi")),
      "s2_decontam" -> { d =>
        // eval side fixed from the ORIGINAL corpus (the d19 split);
        // train side = the survivors outside the eval ids
        val train = d.filter(col("doc_id") % 97 =!= 0)
        train.join(
          Dedup.contaminationReport(train, evalSet, "text", "doc_id",
            // 0.3: near-verbatim passage overlap. The d19 audit's 0.03
            // reporting floor would drop ~90% of this small-vocabulary
            // synthetic corpus — a report threshold, not a drop policy
            minContamination = 0.3).select(col("doc_id")),
          Seq("doc_id"), "left_anti")
      },
      "s3_quality" -> { d =>
        // quantile-thresholded quality (keep the top 75% by score):
        // corpus-relative, so it cuts a real fraction on ANY corpus —
        // the Gopher stopword rule would zero this synthetic vocabulary
        val scored = d.select(col("doc_id"), TF.qualityScore(col("text")).as("q"))
        val thr = scored.agg(expr("percentile(q, 0.25)")).collect()(0).getDouble(0)
        d.join(scored.filter(col("q") >= thr).select(col("doc_id")),
          Seq("doc_id"), "left_semi")
      },
      "s4_cap" -> (d => d.join(
        Sampling.capPerGroup(
          d.select(col("doc_id"), col("source"), TF.qualityScore(col("text")).as("q")),
          "source", "q", "doc_id", cap = 150).select(col("doc_id")),
        Seq("doc_id"), "left_semi")),
      "s5_pack" -> (d => Packing.packSequences(
        d.select(col("doc_id"), col("source"),
          TF.tokenCount(col("text")).cast("long").as("n_tokens")),
        "source", "doc_id", "n_tokens", seqLen = 256)),
      "s6_export" -> (d => TrainingExport.withShuffleKeys(
        TrainingExport.assignSplits(
          d.select(col("doc_id")), "doc_id",
          Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)),
        "doc_id", nShards = 8)))
    // expectation: the same chain composed in memory (no disk between)
    val expected: Seq[(String, Long)] = {
      var cur = docs0
      stages.map { case (name, f) => cur = f(cur); (name, cur.count()) }
    }
    // the gate: every stage writes parquet and the NEXT stage reads it
    var cur = docs0
    val measured = stages.map { case (name, f) =>
      val (cnt, sec) = time {
        f(cur).write.mode("overwrite").parquet(s"$out/$name")
        cur = spark.read.parquet(s"$out/$name")
        cur.count()
      }
      (name, cnt, sec)
    }
    measured.zip(expected).foreach { case ((name, n, _), (ename, e)) =>
      require(name == ename && n == e,
        s"stage $name: on-disk chain produced $n rows, in-memory chain $e")
      require(n > 0, s"stage $name emptied the corpus — the gate measures nothing")
    }
    val rowsJson = measured.map { case (name, n, sec) =>
      s""""$name":{"rows":$n,"sec":$sec}""" }.mkString(",")
    println(s"""{"suite":"pipeline","dir":"$dir","docs":${docs0.count()},$rowsJson}""")
    docs0.unpersist(); evalSet.unpersist()
  }

  /** Suspect-literal pushdown law on a range-clustered fp index: scan
    * wall vs probe-set size. Pruning is a DENSITY game — a k-key literal
    * probe reads ~min(k, G) of the index's G row groups (keys uniform,
    * files range-disjoint, rows sorted), so the win appears exactly when
    * k < G and grows with index size while k stays batch-proportional.
    * Locally G is bounded by what fits on disk, so `blockMB` shrinks the
    * row groups to reproduce the at-scale GEOMETRY (a 10^12-fp
    * production index at default 128 MB blocks has ~64k row groups —
    * far more than any batch's suspect set; 160M fps at 8 MB gives
    * ~160, enough to see the law's both regimes). Measured per k: the
    * literal-pushdown probe, the broadcast-join-only confirm (the
    * over-cap fallback shape — always a full scan), and the plain full
    * scan. Usage: runMain graft.tools.ScaleBench pushdown [nFps] [blockMB] */
  def pushdownMain(spark: SparkSession, nFps: Long, blockMB: Int): Unit = {
    import graft.functions.ScanPrune
    val dir = java.nio.file.Files.createTempDirectory("graft_pushdown").toString + "/idx"
    val t0 = System.nanoTime()
    spark.range(nFps).select(xxhash64(col("id")).as("fp"))
      .repartitionByRange(32, col("fp")).sortWithinPartitions(col("fp"))
      .write.option("parquet.block.size", (blockMB * 1024 * 1024).toString)
      .parquet(dir)
    val buildSec = (System.nanoTime() - t0) / 1e9
    ScanPrune.ensureEqPushdown(spark)
    val idx = spark.read.parquet(dir)
    def time(f: => Unit): Double = {
      val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9
    }
    idx.count() // warm footers/page cache once
    // sum, not count: parquet answers a bare count() from footer
    // metadata without reading a single data page
    val fullScan = time(idx.agg(sum(col("fp"))).collect())
    val rows = Seq(16, 256, 4096, 65536).map { k =>
      // true members, uniformly scattered: the index is xxhash64(0..n)
      val suspects = spark.range(k).select(xxhash64(col("id")).as("fp"))
      val vals = suspects.collect().map(_.getLong(0)).toSeq.distinct
      val lit =
        if (vals.length <= graft.streaming.StreamingDedup.maxFpPushdown)
          time(assert(
            idx.filter(ScanPrune.inLiteral(col("fp"), vals)).count() == vals.length))
        else -1.0 // over the cap: the literal path never engages
      val join = time(assert(
        broadcast(suspects.distinct()).join(idx, Seq("fp")).count() == vals.length))
      (k, lit, join)
    }
    val rowsJson = rows.map { case (k, lit, join) =>
      s"""{"k":$k,"literal_scan_sec":$lit,"broadcast_confirm_sec":$join}"""
    }.mkString("[", ",", "]")
    println(s"""{"suite":"pushdown","n_fps":$nFps,"block_mb":$blockMB,""" +
      s""""build_sec":$buildSec,"full_scan_sec":$fullScan,"probes":$rowsJson}""")
  }

  def suiteMain(spark: SparkSession, baseDir: String, rest: Seq[String]): Unit = {
    import graft.sources.StagingCache
    val root = rest.headOption.getOrElse("/tmp/graft_scale")
    val queries: Seq[String] =
      if (rest.length > 1) rest.drop(1)
      else Seq(
        // the heaviest registry entries per bench_full.json, doc/embed
        // families (series-family key-scaling is ScaleBench paircorr/
        // temporal, already in PERF.md)
        "d50_setsim_join", "d36_source_classifier", "d63_centroid_classifier",
        "d65_perceptron_classifier", "d16_embed_neardup_bands", "d60_source_overlap",
        "d44_dist_shift", "d58_split_leakage", "d56_index_append", "d46_lm_heldout",
        "d13_curation", "d28_vocab_stats", "d27_ivf_pq", "d31_ivf_pq_residual",
        "d59_dimsum_terms", "d3_minhash_lsh")
    val unknown = queries.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    // exact verifiers whose OUTPUT grows super-linearly by design: cap
    // at 4× so the suite finishes, and expect+document e > 1
    val capped = Set("d50_setsim_join")

    val scales = Seq(1, 4, 16)
    val dirs = scales.map(k => k -> buildScaledDir(spark, baseDir, root, k)).toMap
    // untimed JIT/codegen warmup at the base dir
    queries.foreach { q =>
      try graft.SparkEntry.queries(q)(spark, baseDir).count()
      catch { case e: Throwable => System.err.println(s"[suite] warmup $q: ${e.getMessage}") }
    }
    val rows = queries.map { q =>
      val mine = if (capped(q)) scales.filter(_ <= 4) else scales
      val times = mine.map { k =>
        StagingCache.clear(Some(spark))
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(q)(spark, dirs(k)).count()
        k -> (System.nanoTime() - t0) / 1e9
      }
      val (k1, t1) = times.head
      val (kN, tN) = times.last
      val e = math.log(tN / t1) / math.log(kN.toDouble / k1)
      val ts = times.map { case (k, t) => s""""x$k":${f"$t%.3f".toDouble}""" }.mkString(",")
      println(s"""{"query":"$q",$ts,"exponent":${f"$e%.3f".toDouble},"flag":${e > suiteFlagExponent}}""")
      (q, times, e)
    }
    val flagged = rows.filter(_._3 > suiteFlagExponent).map(_._1)
    val flaggedJson =
      if (flagged.isEmpty) "[]" else flagged.mkString("[\"", "\",\"", "\"]")
    println(s"""{"suite":"scaling","queries":${rows.length},"flagged":$flaggedJson}""")
  }

  /** Queries scaling worse than rows^1.2 need a documented reason. */
  val suiteFlagExponent = 1.2

  /** The suite's vocabulary-disjoint scaled corpus (see [[suiteMain]]):
    * copy c prefixes every token with `c<c>x` and remaps ids by +c·N,
    * embeddings nudged by c·10⁻³; all other tables symlinked. Shared
    * with [[pipelineScaleMain]]. */
  private def buildScaledDir(
      spark: SparkSession, baseDir: String, root: String, k: Int): String = {
    val dir = s"$root/x$k"
    val done = new java.io.File(s"$dir/_DONE")
    if (!done.exists()) {
      val docs = Tables.load(spark, baseDir, "documents")
      val nDocs = docs.agg(max(col("doc_id"))).head.getLong(0) + 1
      val docCopies = (0 until k).map { c =>
        if (c == 0) docs
        else docs.select(
          (col("doc_id") + lit(c * nDocs)).as("doc_id"),
          array_join(
            transform(split(col("text"), " "), t => concat(lit(s"c${c}x"), t)),
            " ").as("text"),
          col("lang"), col("source"), length(col("text")).cast("long").as("n_chars"))
      }
      docCopies.reduce(_ unionByName _).coalesce(8)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val emb = Tables.load(spark, baseDir, "embeddings")
      val nVecs = emb.agg(max(col("vec_id"))).head.getLong(0) + 1
      val embCopies = (0 until k).map { c =>
        if (c == 0) emb
        else emb.select(
          (col("vec_id") + lit(c * nVecs)).as("vec_id"),
          transform(col("embedding"), x => x + lit(c.toFloat * 1e-3f)).as("embedding"),
          col("label"))
      }
      embCopies.reduce(_ unionByName _).coalesce(8)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      new java.io.File(baseDir).listFiles()
        .filter(f => f.getName.endsWith(".parquet") &&
          !Set("documents.parquet", "embeddings.parquet").contains(f.getName))
        .foreach { f =>
          val link = java.nio.file.Paths.get(dir, f.getName)
          if (!java.nio.file.Files.exists(link))
            java.nio.file.Files.createSymbolicLink(link, f.toPath)
        }
      done.createNewFile()
    }
    dir
  }

  /** Per-STAGE scaling of the d82 composed pipeline (the deployment's
    * recurring job — previously benched as one opaque number): each of
    * the five registered stages (exact dedup → decontam → quality gate
    * → per-source cap → pack), timed in isolation at 1×/4×/16× corpus
    * scale over the suite's vocabulary-disjoint scaled dirs, inputs
    * materialized between stages (localCheckpoint) so a stage's time is
    * ITS work, not its upstream's. Fits wall ∝ rows^e per stage from
    * the endpoints — naming the dominant stage at scale instead of
    * guessing it. Stage composition replicates d82_pipeline_composed
    * verbatim. Usage: runMain graft.tools.ScaleBench pipelinescale
    * [baseDir] [outDirRoot] */
  def pipelineScaleMain(spark: SparkSession, baseDir: String, root: String): Unit = {
    import graft.functions.{Dedup, Packing, Sampling, TextFunctions => TF}
    import graft.sources.StagingCache
    val scales = Seq(1, 4, 16)
    val dirs = scales.map(k => k -> buildScaledDir(spark, baseDir, root, k)).toMap

    // d82's five stages, verbatim; dOrig is the UNSTAGED original corpus
    // (the eval slice is carved from it so dedup can't move the benchmark)
    def stages(dOrig: DataFrame): Seq[(String, DataFrame => DataFrame)] = Seq(
      "s1_dedup" -> { d =>
        val keep = Dedup.exactDedup(d, "text", "doc_id")
          .select(col("keep_id").as("doc_id"))
        d.join(keep, Seq("doc_id"), "left_semi")
      },
      "s2_decontam" -> { d =>
        val train = d.filter(col("doc_id") % 97 =!= 0)
        train.join(
          Dedup.contaminationReport(train, dOrig.filter(col("doc_id") % 97 === 0),
            "text", "doc_id", minContamination = 0.03).select(col("doc_id")),
          Seq("doc_id"), "left_anti")
      },
      "s3_quality" -> { d =>
        d.select(col("doc_id"), col("source"), col("text"),
          round(TF.qualityScore(col("text")), 6).as("quality_score"))
          .filter(col("quality_score") >= 0.6)
      },
      "s4_cap" -> { d =>
        d.join(
          Sampling.capPerGroup(
            d.select(col("doc_id"), col("source"), col("quality_score")),
            "source", "quality_score", "doc_id", cap = 150)
            .select(col("doc_id")),
          Seq("doc_id"), "left_semi")
      },
      "s5_pack" -> { d =>
        Packing.packSequences(
          d.select(col("doc_id"), col("source"),
            TF.tokenCount(col("text")).cast("long").as("n_tokens")),
          "source", "doc_id", "n_tokens", seqLen = 256)
      })

    // untimed JIT/codegen warmup at the base dir
    { var cur = Tables.load(spark, baseDir, "documents")
      stages(cur).foreach { case (_, f) => cur = f(cur).localCheckpoint(true) }
    }
    val perScale: Map[Int, Seq[(String, Long, Double)]] = scales.map { k =>
      StagingCache.clear(Some(spark))
      val dOrig = Tables.load(spark, dirs(k), "documents")
      var cur = dOrig.localCheckpoint(true)
      k -> stages(dOrig).map { case (name, f) =>
        val t0 = System.nanoTime()
        val out = f(cur).localCheckpoint(true) // eager: the stage runs HERE
        val n = out.count()
        val sec = (System.nanoTime() - t0) / 1e9
        cur = out
        (name, n, sec)
      }
    }.toMap
    val names = perScale(scales.head).map(_._1)
    names.foreach { name =>
      val times = scales.map(k => k -> perScale(k).find(_._1 == name).get)
      val (k1, (_, n1, t1)) = times.head
      val (kN, (_, nN, tN)) = times.last
      val e = math.log(tN / t1) / math.log(kN.toDouble / k1)
      val ts = times.map { case (k, (_, n, t)) =>
        s""""x$k":{"rows":$n,"sec":${f"$t%.3f".toDouble}}""" }.mkString(",")
      println(s"""{"stage":"$name",$ts,"exponent":${f"$e%.3f".toDouble}}""")
    }
  }

  /** One bootstrap for every mode: local[SPARK_GRAFT_CPUS] with the
    * bench session shape. `tuned` preserves each mode's historical
    * GraftSession.tune status so recorded numbers stay comparable. */
  private def withSession(tuned: Boolean)(f: SparkSession => Unit): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (tuned) graft.core.GraftSession.tune(spark)
    try f(spark)
    finally spark.stop()
  }

  /** Default mode: the lag-corr + DTW mapping kernels vs the reference
    * baseline tiers. */
  private def mappingMain(spark: SparkSession, nKeys: Long, nPeriods: Int): Unit = {
    val cfg = MappingConfig(periodUnit = PeriodUnit.Month, maxLag = 6)
    val (t1, t2) = genSeries(spark, nKeys, nPeriods)
    val inputRows = nKeys * nPeriods + nKeys * (nPeriods - 1)

    val merged = graft.core.SeriesTable.merge(t1, t2).cache()
    merged.count() // materialize outside the timed sections

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }

    val (corrRows, corrSec) = time {
      val best = LagCorrelation.bestLag(LagCorrelation.lagCorrTable(merged, cfg))
      LagCorrelation.mapping(t1, t2, best, cfg).count()
    }
    val (dtwRows, dtwSec) = time {
      MappingEngine.mapSeries(t1, t2, cfg.copy(method = "dtw", dtwWindow = Some(3))).count()
    }

    println(
      s"""{"workload":{"keys":$nKeys,"periods":$nPeriods,"input_rows":$inputRows},
         |"correlation":{"sec":$corrSec,"mapping_rows":$corrRows,"input_rec_per_sec":${(inputRows / corrSec).toLong}},
         |"dtw":{"sec":$dtwSec,"mapping_rows":$dtwRows,"input_rec_per_sec":${(inputRows / dtwSec).toLong}},
         |"baseline":{"correlation_rec_per_sec":"1000-3000 (large tier)","dtw_rec_per_sec":"100-300 (large tier)"}}"""
        .stripMargin.replace("\n", ""))
  }

  def main(args: Array[String]): Unit = {
    def argL(i: Int, d: Long): Long = if (args.length > i) args(i).toLong else d
    def argI(i: Int, d: Int): Int = if (args.length > i) args(i).toInt else d
    def argD(i: Int, d: Double): Double = if (args.length > i) args(i).toDouble else d
    args.headOption match {
      case Some("paircorr") => withSession(tuned = true)(s =>
        pairCorrMain(s, argL(1, 5000L), argI(2, 60), bandedOnly = args.contains("bandedOnly")))
      case Some("temporal") => withSession(tuned = true)(s =>
        temporalMain(s, argL(1, 1000000L), argI(2, 60)))
      case Some("bitext") => withSession(tuned = true)(s =>
        bitextMain(s, argL(1, 200000L), argL(2, 200000L), argL(3, 20000L)))
      case Some("dimsum") => withSession(tuned = true)(s =>
        dimsumMain(s, argL(1, 500000L), argD(2, 50.0)))
      case Some("countmin") => withSession(tuned = true)(s =>
        countMinMain(s, argL(1, 50000000L)))
      case Some("hll") => withSession(tuned = true)(s =>
        hllMain(s, argL(1, 50000000L)))
      case Some("hist") => withSession(tuned = true)(s =>
        histMain(s, argL(1, 20000000L)))
      case Some("classify") => withSession(tuned = true)(s =>
        classifyMain(s, argL(1, 1000000L)))
      case Some("events") => withSession(tuned = true)(s =>
        eventsMain(s, argL(1, 20000000L)))
      case Some("bloomjoin") => withSession(tuned = true)(s =>
        bloomJoinMain(s, argL(1, 50000000L), argL(2, 1000000L)))
      case Some("heavyhitters") => withSession(tuned = true)(s =>
        heavyHittersMain(s, argL(1, 50000000L)))
      case Some("spandedup") => withSession(tuned = true)(s =>
        spanDedupMain(s, argL(1, 2000000L)))
      case Some("spandedup-worst") => withSession(tuned = true)(s =>
        spanDedupWorstMain(s, argL(1, 2000000L)))
      case Some("zorder") => withSession(tuned = false)(s => zorderMain(s, argL(1, 20000000L)))
      case Some("asof") => withSession(tuned = false)(s =>
        asofMain(s, argL(1, 20000000L), argL(2, 20000000L), argL(3, 100000L)))
      case Some("ann") => withSession(tuned = false)(s => annMain(s, argL(1, 200000L)))
      case Some("append") => withSession(tuned = false)(s =>
        appendMain(s, argL(1, 1000000L), argL(2, 100000L)))
      case Some("skew") => withSession(tuned = false)(s =>
        skewMain(s, argL(1, 50000000L), argI(2, 3)))
      case Some("cc") => withSession(tuned = false)(s =>
        ccMain(s, argL(1, 100000L), argL(2, 300000L)))
      case Some("curation") => withSession(tuned = false)(s => curationMain(s, argL(1, 2000000L)))
      case Some("dedup") => withSession(tuned = false)(s => dedupMain(s, argL(1, 1000000L)))
      case Some("incr") => withSession(tuned = false)(s =>
        incrMain(s, argL(1, 1000000L), argL(2, 100000L)))
      case Some("upsert") => withSession(tuned = false)(s =>
        upsertMain(s, argL(1, 20000000L), argI(2, 200), argI(3, 3)))
      case Some("lm") => withSession(tuned = false)(s => lmMain(s, argL(1, 2000000L)))
      case Some("pii") => withSession(tuned = false)(s => piiMain(s, argL(1, 2000000L)))
      case Some("multimodal") => withSession(tuned = true)(s =>
        multimodalMain(s, argL(1, 500000L), argI(2, 2)))
      case Some("compactserve") => withSession(tuned = true)(s =>
        compactServeMain(s, argL(1, 2000000L), argI(2, 50)))
      case Some("annserve") => withSession(tuned = true)(s =>
        annServeMain(s, argL(1, 500000L), argI(2, 20)))
      case Some("pipeline") => withSession(tuned = true)(s =>
        pipelineMain(s, if (args.length > 1) args(1)
          else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")))
      case Some("retrieval") => withSession(tuned = true)(s =>
        retrievalMain(s, argL(1, 2000000L), argI(2, 64)))
      case Some("sax") => withSession(tuned = true)(s =>
        saxMain(s, argL(1, 50000L), argI(2, 60)))
      case Some("phraseindex") => withSession(tuned = true)(s =>
        phraseIndexMain(s, argL(1, 2000000L), argI(2, 20), argL(3, 5L)))
      case Some("stream") => withSession(tuned = true)(s =>
        streamMain(s, argI(1, 100), argL(2, 10000L), args.drop(3).toSet))
      case Some("pushdown") => withSession(tuned = true)(s =>
        pushdownMain(s, argL(1, 160000000L), argI(2, 8)))
      case Some("suite") => withSession(tuned = true)(s =>
        suiteMain(s, sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
          args.drop(1).toSeq))
      case Some("pipelinescale") => withSession(tuned = true)(s =>
        pipelineScaleMain(
          s,
          if (args.length > 1) args(1)
          else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
          if (args.length > 2) args(2) else "/tmp/graft_scale"))
      case _ => withSession(tuned = true)(s => mappingMain(s, argL(0, 200000L), argI(1, 30)))
    }
  }
}
