package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables

/** Deterministic sampling: stability across evaluations, partition-count
  * independence, and split exhaustiveness/disjointness — the properties
  * that make hash-based selection safe for train/test hygiene.
  */
class SamplingSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("sample is identical across evaluations and repartitionings") {
    val docs = Tables.documents(spark, dir)
    val a = Sampling.sampleByPercent(docs, "doc_id", 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Sampling.sampleByPercent(docs.repartition(7), "doc_id", 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b && a.nonEmpty)
  }

  test("qualitySample: every doc binned once; mean quality rises with bin; top bin kept whole") {
    val docs = Tables.documents(spark, dir)
    val rows = Sampling.qualitySample(docs).collect()
    assert(rows.length == docs.count())
    val byBin = rows.groupBy(_.getLong(2))
    assert(byBin.keySet.subsetOf(Set(0L, 1L, 2L, 3L)))
    val means = byBin.toSeq.sortBy(_._1)
      .map { case (_, rs) => rs.map(_.getDouble(1)).sum / rs.length }
    assert(means == means.sorted, s"bin quality means not monotone: $means")
    // keepPct for the top quartile is 100 => every hash bucket is below it
    byBin(3L).foreach(r => assert(r.getBoolean(3)))
    // selection is deterministic: same verdicts on a repartitioned input
    val again = Sampling.qualitySample(docs.repartition(7)).collect()
    assert(rows.map(r => (r.getLong(0), r.getBoolean(3))).toSet ==
      again.map(r => (r.getLong(0), r.getBoolean(3))).toSet)
  }

  test("packBatches: per-lang batches respect the exclusive-prefix binning") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // lang a: 3 docs of 3 tokens with budget 5 => cum 3,6,9; batches 0,0,1
    // lang b: counter resets (first doc is batch 0 again)
    val docs = Seq(
      (1L, "a", "t t t"), (2L, "a", "t t t"), (3L, "a", "t t t"),
      (4L, "b", "t t t t t t t")
    ).toDF("doc_id", "lang", "text")
    // shards = 1: a single stratum per lang — the reference packing shape
    val out = Sampling.packBatches(docs, budget = 5, shards = 1).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(4), r.getLong(5))).toMap
    assert(out(1L) == ((3L, 3L, 0L)))
    assert(out(2L) == ((3L, 6L, 0L)))  // starts at offset 3 < 5
    assert(out(3L) == ((3L, 9L, 1L)))  // starts at offset 6 >= 5
    assert(out(4L) == ((7L, 7L, 0L)))  // new lang, fresh counter
    // no batch starts past its computed bin; batches are contiguous from 0
    val batches = out.values.map(_._3).toSet
    assert(batches == Set(0L, 1L))
  }

  test("packBatches: sharded windows stay per-(lang,shard) and ids never collide") {
    import spark.implicits._
    val docs = (1L to 40L).map(i => (i, if (i % 2 == 0) "a" else "b",
      Seq.fill(3)("t").mkString(" "))).toDF("doc_id", "lang", "text")
    val res = Sampling.packBatches(docs, budget = 5, shards = 4)
    // the window key must include the shard column — keying by lang alone
    // puts the dominant language on one reducer at scale
    val windowNode = res.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }.head
    val keyNames = windowNode.partitionSpec.flatMap(_.references.map(_.name)).toSet
    assert(keyNames == Set("lang", "shard"), s"window keys: $keyNames")
    val rows = res.collect()
    // batch_id ≡ shard (mod shards): ids from different shards never collide
    rows.foreach { r =>
      assert(r.getLong(5) % 4 == r.getLong(3),
        s"batch_id ${r.getLong(5)} not offset by shard ${r.getLong(3)}")
    }
    // within each (lang, shard) stratum the prefix sum is exclusive-binned
    rows.groupBy(r => (r.getString(1), r.getLong(3))).values.foreach { g =>
      val sorted = g.sortBy(_.getLong(0))
      var cum = 0L
      sorted.foreach { r =>
        assert(r.getLong(5) == (cum / 5) * 4 + r.getLong(3))
        cum += r.getLong(2)
        assert(r.getLong(4) == cum)
      }
    }
  }

  test("sourceMixture: weights normalize, epochs satisfy the budget identity") {
    val docs = Tables.documents(spark, dir)
    val budget = 10000000L
    val rows = Sampling.sourceMixture(docs, alpha = 0.5, budgetTokens = budget).collect()
    assert(rows.length == docs.select(col("source")).distinct().count())
    val wSum = rows.map(_.getDouble(3)).sum
    assert(math.abs(wSum - 1.0) < 1e-4, s"weights must renormalize, got $wSum")
    // epochs = budget * weight / tokens (to rounding)
    rows.foreach { r =>
      val expect = budget.toDouble * r.getDouble(3) / r.getLong(2)
      assert(math.abs(r.getDouble(4) - expect) < 1e-2,
        s"${r.getString(0)}: epochs ${r.getDouble(4)} vs $expect")
    }
    // temperature flattening: at alpha 0.5 the weight ratio between the
    // largest and smallest source is the sqrt of their token ratio
    val big = rows.maxBy(_.getLong(2)); val small = rows.minBy(_.getLong(2))
    val tokRatio = big.getLong(2).toDouble / small.getLong(2)
    val wRatio = big.getDouble(3) / small.getDouble(3)
    assert(math.abs(wRatio - math.sqrt(tokRatio)) < 0.01 * math.sqrt(tokRatio))
  }

  test("packSequences: two-level scan equals the plain per-lang running sum") {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val res = Sampling.packSequences(docs, seqLen = 256, shardWidth = 16)
    // reference: the single-reducer window the sharded scan replaces
    val plain = docs
      .select(col("doc_id"), col("lang"),
        size(TextAnalysis.toks).cast("bigint").as("n_tok"))
      .withColumn("start",
        sum(col("n_tok")).over(Window.partitionBy(col("lang")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)) - col("n_tok"))
    val got = res.select("doc_id", "start").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    plain.collect().foreach { r =>
      assert(got(r.getLong(0)) == r.getLong(3),
        s"offset mismatch for doc ${r.getLong(0)}")
    }
    // sequence ids are consistent with offsets, and boundaries only ever
    // advance (within a lang, ordered by doc_id)
    val rows = res.collect()
    rows.foreach { r =>
      val (tok, start) = (r.getLong(2), r.getLong(3))
      assert(r.getLong(4) == start / 256)
      assert(r.getLong(5) == (start + math.max(tok, 1) - 1) / 256)
      assert(r.getLong(4) <= r.getLong(5))
    }
    rows.groupBy(_.getString(1)).values.foreach { g =>
      g.sortBy(_.getLong(0)).sliding(2).foreach {
        case Array(a, b) => assert(a.getLong(3) <= b.getLong(3))
        case _ =>
      }
    }
    // the local windows really are bounded by (lang, shard), and the
    // offsets side joins back broadcast
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"offsets join must broadcast:\n$plan")
  }

  test("mixture rungs: from-stats ≡ inline; indexed ≡ inline; incremental identity + first-evidence drift; audit fills") {
    val docs = Tables.documents(spark, dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.toVector).toSeq
    // from-stats form aggregates to the inline form's exact bytes
    val inline = rows(Sampling.sourceMixture(docs))
    assert(rows(Sampling.sourceMixtureFromTokenStats(
      Sampling.sourceTokenStats(docs))) == inline)
    // token-stats merge is exact over any split
    val b = Sampling.hashBucket(col("doc_id"))
    assert(rows(Sampling.mergeTokenStats(
        Sampling.sourceTokenStats(docs.where(b < 50)),
        Sampling.sourceTokenStats(docs.where(b >= 50)))
      .orderBy(col("source"))) ==
      rows(Sampling.sourceTokenStats(docs).orderBy(col("source"))))
    // indexed planner serves identical weights from the stored stats table
    val reg = CatalogOps.indexRegistry(spark, dir)
    val idxName = SourceCurate.sourceStatsIndexName(0.3)
    if (reg.isIndexRegistered(idxName)) reg.dropIndex(idxName)
    assert(rows(Sampling.sourceMixtureIndexed(spark, dir)) == inline)
    // incremental identity: state = rest of corpus => batch rows equal the
    // whole-corpus draw restricted to the batch
    val whole = Sampling.mixtureDraw(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val incRows = Sampling.mixtureDrawIncremental(docs.where(b >= 50),
        Sampling.sourceTokenStats(docs.where(b < 50))).collect()
    assert(incRows.nonEmpty)
    incRows.foreach(r => assert(r.getLong(2) == whole(r.getLong(0))))
    // first-evidence drift: under partial evidence a smaller corpus means
    // higher epochs for the seen sources (budget spread over fewer tokens)
    val early = Sampling.sourceMixtureFromTokenStats(
        Sampling.sourceTokenStats(docs.where(b < 10)))
      .collect().map(r => r.getString(0) -> r.getDouble(4)).toMap
    val full = Sampling.sourceMixture(docs).collect()
      .map(r => r.getString(0) -> r.getDouble(4)).toMap
    assert(early.keySet.subsetOf(full.keySet))
    assert(early.exists { case (s, e) => e != full(s) },
      "running evidence must move epochs as the corpus accumulates")
    // audit: achieved lands near target (the draw spec's tolerance), and
    // fill_ratio is the quotient it claims to be
    Sampling.mixtureAudit(docs, budgetTokens = 100000L).collect().foreach { r =>
      assert(math.abs(r.getDouble(3) -
        r.getLong(1).toDouble / r.getDouble(2)) < 1e-5)
      assert(r.getDouble(3) > 0.5 && r.getDouble(3) < 1.5,
        s"${r.getString(0)}: fill ${r.getDouble(3)}")
    }
  }

  test("mixtureDraw: repetitions match the definition; per-source totals land on weight*budget") {
    val docs = Tables.documents(spark, dir)
    val budget = 100000L
    val draws = Sampling.mixtureDraw(docs, budgetTokens = budget).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val mix = Sampling.sourceMixture(docs, budgetTokens = budget).collect()
      .map(r => r.getString(0) -> (r.getDouble(3), r.getDouble(4))).toMap
    // floor/ceil of epochs bound every draw; at least one doc drew each side
    draws.foreach { case (_, src, n) =>
      val e = mix(src)._2
      assert(n == math.floor(e).toLong || n == math.floor(e).toLong + 1, s"$src: $n vs $e")
    }
    // expected per-source token total = weight * budget; the deterministic
    // hash draw concentrates tightly (each source has hundreds of docs)
    val toks = docs.selectExpr("doc_id", "source",
        "cast(size(filter(split(text, ' '), x -> x != '')) as long) as n_tok")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val perSource = draws.groupBy(_._2).view.mapValues(
      _.map { case (id, _, n) => toks(id)._2 * n }.sum).toMap
    perSource.foreach { case (src, got) =>
      val want = mix(src)._1 * budget
      assert(math.abs(got - want) / want < 0.25, s"$src: $got vs $want")
    }
    // re-evaluation draws identical repetitions (determinism)
    val again = Sampling.mixtureDraw(docs, budgetTokens = budget).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(draws.toSeq == again.toSeq)
  }

  test("tokenShards: two-level scan equals the plain running sum; shards close at the budget") {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val budget = 500L
    val got = Sampling.tokenShards(docs, budget, shardWidth = 7).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // plain single-window reference
    val w = Window.orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ref = docs.select(col("doc_id"),
        size(expr("filter(split(text, ' '), x -> x != '')")).cast("bigint").as("n_tok"))
      .withColumn("shard",
        expr(s"coalesce(sum(n_tok) over (order by doc_id rows between unbounded preceding and 1 preceding), 0) div $budget"))
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == ref.toSeq)
    // shard ids are monotone in doc order, and every present shard except
    // the last closes past its budget boundary: the cumulative token count
    // through a shard's final document reaches (shard+1)·budget (a huge
    // doc may overhang several budgets, leaving later shards sparse — the
    // greedy layout's documented behavior — so per-shard sums alone are
    // NOT bounded below)
    assert(got.map(_._3).toSeq == got.map(_._3).sorted.toSeq)
    val cums = got.scanLeft(0L)(_ + _._2).tail
    val lastShard = got.last._3
    got.zip(cums).zipWithIndex.foreach { case (((_, _, s), cum), i) =>
      val isLastOfShard = i == got.length - 1 || got(i + 1)._3 != s
      if (isLastOfShard && s != lastShard)
        assert(cum >= (s + 1) * budget, s"shard $s closed at $cum")
    }
  }

  test("shardGroupWidth: both scan levels stay ~sqrt(N)-bounded at any corpus size") {
    // the unbounded-N fix: for EVERY n, the local windows (width rows) and
    // the offsets table (ceil(n/width) rows) are both <= max(128, ~sqrt(n))
    for (n <- Seq(0L, 1L, 100L, 16384L, 1000000L, 10000000000L, 1000000000000L)) {
      val w = Sampling.shardGroupWidth(n)
      val offsets = if (n == 0) 0L else (n + w - 1) / w
      val bound = math.max(128L, math.ceil(math.sqrt(n.toDouble)).toLong + 1)
      assert(w <= bound, s"n=$n width=$w")
      assert(offsets <= bound, s"n=$n offsets=$offsets width=$w")
    }
    // output is width-INDEPENDENT: auto == explicit on the same corpus
    val docs = Tables.documents(spark, dir)
    val auto = Sampling.tokenShards(docs, 500L).collect().toSeq
    val explicit = Sampling.tokenShards(docs, 500L, shardWidth = 7).collect().toSeq
    assert(auto == explicit)
    val autoPack = Sampling.packSequences(docs, seqLen = 256).collect().toSeq
    val explicitPack = Sampling.packSequences(docs, seqLen = 256, shardWidth = 16).collect().toSeq
    assert(autoPack == explicitPack)
  }

  test("writeShards: partitioned files round-trip, manifest totals match") {
    val docs = Tables.documents(spark, dir)
    val path = java.nio.file.Files.createTempDirectory("graft-shards-").toString
    val manifest = graft.io.Export
      .writeShards(spark, docs, path, tokensPerShard = 500L).collect()
    val back = spark.read.json(path)
    assert(back.count() == docs.count())
    // every doc reads back into the shard the assignment chose
    val assigned = Sampling.tokenShards(docs, 500L)
      .select(col("doc_id"), col("shard")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    back.select(col("doc_id"), col("shard")).collect()
      // the shard partition column reads back as its narrowest type (int)
      .foreach(r => assert(assigned(r.getLong(0)) == r.getAs[Number](1).longValue))
    val mf = ujsonLite(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path, "manifest.json")), "UTF-8"))
    assert(mf("n_shards") == manifest.length)
    assert(manifest.map(_.getLong(1)).sum == docs.count())
  }

  test("writeAssigned: a pre-assigned frame writes writeShards' files and manifest bytes") {
    val docs = Tables.documents(spark, dir)
    def tmp() = java.nio.file.Files.createTempDirectory("graft-shards-").toString
    val (viaShards, viaAssigned) = (tmp(), tmp())
    graft.io.Export.writeShards(spark, docs, viaShards, tokensPerShard = 500L)
    // the same assignment, computed apart (materialized, re-partitioned)
    // and handed over already joined to the documents
    val assignment = Sampling.tokenShards(docs, 500L)
      .select(col("doc_id"), col("shard")).localCheckpoint()
    graft.io.Export.writeAssigned(spark,
      docs.join(assignment, Seq("doc_id")).repartition(3), viaAssigned, 500L)
    def back(p: String) = spark.read.json(p).orderBy(col("doc_id")).collect().toSeq
    val a = back(viaShards)
    assert(a.length == docs.count())
    assert(a == back(viaAssigned))
    def manifest(p: String) = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(p, "manifest.json")).toSeq
    assert(manifest(viaShards) == manifest(viaAssigned))
  }

  // minimal manifest probe (avoids a JSON dependency): extracts top-level
  // integer fields of the flat manifest header
  private def ujsonLite(s: String): Map[String, Long] =
    "\"(tokens_per_shard|n_shards)\":(\\d+)".r.findAllMatchIn(s)
      .map(m => m.group(1) -> m.group(2).toLong).toMap

  test("cellBalancedSample: at most perCell kept per cell, hash order deterministic") {
    val e = Tables.embeddings(spark, dir)
    val res = Sampling.cellBalancedSample(e, nCells = 16, perCell = 5).collect()
    assert(res.length == e.count(), "one audit row per vector")
    val byCell = res.groupBy(_.getLong(1))
    byCell.values.foreach { g =>
      assert(g.count(_.getBoolean(3)) == math.min(5, g.length),
        "keeps exactly min(perCell, |cell|)")
      // ranks are a permutation of 1..|cell| and keep <=> rank <= perCell
      assert(g.map(_.getLong(2)).sorted.sameElements(1L to g.length))
      g.foreach(r => assert(r.getBoolean(3) == (r.getLong(2) <= 5)))
    }
    // determinism across evaluations
    val again = Sampling.cellBalancedSample(e, nCells = 16, perCell = 5).collect()
    assert(res.map(_.toSeq).sameElements(again.map(_.toSeq)))
  }

  test("splits are exhaustive, disjoint, and roughly proportioned") {
    val docs = Tables.documents(spark, dir)
    val splits = docs.select(col("doc_id"), Sampling.splitColumn("doc_id").as("split"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    assert(splits.length == docs.count())
    val bySplit = splits.groupBy(_._2).view.mapValues(_.length).toMap
    assert(bySplit.keySet.subsetOf(Set("train", "val", "test")))
    val n = splits.length.toDouble
    assert(bySplit("train") / n > 0.6, s"train fraction off: $bySplit")
    // growing the sample never reassigns a record (no train/test leakage)
    val small = Sampling.sampleByPercent(docs, "doc_id", 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val large = Sampling.sampleByPercent(docs, "doc_id", 20)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(small.subsetOf(large))
  }

  test("weightedSample: heavy weights dominate; ranking is weight-scale invariant") {
    import spark.implicits._
    val docs = ((0L until 50L).map(i => (i, 1000000L)) ++
      (50L until 100L).map(i => (i, 1L))).toDF("doc_id", "n_chars")
    val picked = Sampling.weightedSample(docs, k = 50).collect()
      .map(_.getLong(0)).toSet
    // P(a w=1 doc out-keys a w=1e6 doc) ~ 4e-5: the 50-slot sample is
    // essentially the heavy block
    assert(picked.count(_ < 50L) >= 45, s"heavy docs under-sampled: $picked")
    // keys are ln(u)/w, so scaling every weight scales every key equally:
    // membership must not change
    val scaled = Sampling.weightedSample(
      docs.withColumn("n_chars", col("n_chars") * 7L), k = 50).collect()
      .map(_.getLong(0)).toSet
    assert(scaled == picked)
  }

  test("weightedSample: reservoir identity — top-k(b1 ∪ b2) == top-k(top-k(b1) ∪ b2)") {
    import spark.implicits._
    // the A-Res key is a pure row function, so a maintained reservoir
    // (prior sample ∪ new batch → re-top-k) is EXACTLY the batch answer —
    // the incremental-maintainability claim, tested
    val b1 = (0L until 80L).map(i => (i, i % 7 * 100 + 1)).toDF("doc_id", "n_chars")
    val b2 = (80L until 160L).map(i => (i, i % 5 * 211 + 1)).toDF("doc_id", "n_chars")
    val direct = Sampling.weightedSample(b1.unionByName(b2), k = 25).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val reservoir = Sampling.weightedSample(
      Sampling.weightedSample(b1, k = 25)
        .select(col("doc_id"), col("w").as("n_chars"))
        .unionByName(b2), k = 25).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(direct == reservoir)
  }

  test("leakSafeSplit: near-dup clusters never straddle the split; singletons match the plain split") {
    import spark.implicits._
    // components: {1,2,3} via chain, {5,6}; singletons 4, 7
    val docs = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("doc_id")
    val pairs = Seq((1L, 2L, 0.9), (2L, 3L, 0.9), (5L, 6L, 0.9))
      .toDF("a_id", "b_id", "jaccard")
    val out = Sampling.leakSafeSplit(docs, pairs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L, 7L))
    // every cluster member shares its component's split — no pair straddles
    assert(Set(out(1L), out(2L), out(3L)).size == 1)
    assert(Set(out(5L), out(6L)).size == 1)
    // singletons group to themselves => identical to the per-doc hash split
    for (id <- Seq(4L, 7L)) {
      val plain = if (Seq((id, "x")).toDF("doc_id", "t")
        .select(Sampling.hashBucket(org.apache.spark.sql.functions.col("doc_id")))
        .head.getLong(0) < 80) "train" else "test"
      assert(out(id) == ((id, plain)))
    }
  }
}
