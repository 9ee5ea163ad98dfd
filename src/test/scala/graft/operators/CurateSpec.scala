package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables

/** The assembled pipeline is a pure composition — each column must equal
  * its standalone operator's verdict, and the split/shard columns must
  * respect the keep decision.
  */
class CurateSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("curate: flags equal the standalone arms; split/shard respect kept") {
    val docs = Tables.documents(spark, dir)
    val out = Curate.pipeline(docs).collect().map(r => r.getLong(0) -> r).toMap
    assert(out.nonEmpty)

    val gates = CorpusFilter.decisions(docs).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3), r.getBoolean(4))).toMap
    val near = Dedup.resolveKeepers(docs, Dedup.ngramNear(docs)).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val deco = Decontaminate.contamination(docs).collect()
      .map(r => r.getLong(0) -> !r.getBoolean(4)).toMap
    val bucket = Sampling.hashBucket(col("doc_id"))
    val buckets = docs.select(col("doc_id"), bucket.as("b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

    out.foreach { case (id, r) =>
      val (q, rep, pii, dd) = gates(id)
      assert((r.getBoolean(1), r.getBoolean(2), r.getBoolean(3), r.getBoolean(4)) == ((q, rep, pii, dd)))
      assert(r.getBoolean(5) == near(id))
      assert(r.getBoolean(6) == deco.getOrElse(id, true)) // val/bench vacuously clean
      val kept = q && rep && pii && dd && near(id) && deco.getOrElse(id, true)
      assert(r.getBoolean(7) == kept)
      if (!kept) assert(r.isNullAt(8) && r.isNullAt(9))
      else {
        val split = r.getString(8)
        val b = buckets(id)
        assert(split == (if (b < 80) "train" else if (b < 90) "val" else "bench"))
        assert((split == "train") == !r.isNullAt(9)) // shard iff kept train
      }
    }
    // shards over kept train docs equal the standalone assignment
    val keptTrain = out.collect {
      case (id, r) if r.getBoolean(7) && !r.isNullAt(9) => id -> r.getLong(9)
    }.toMap
    assert(keptTrain.nonEmpty)
    val expect = Sampling.tokenShards(
        docs.where(col("doc_id").isin(keptTrain.keys.toSeq: _*)), 10000L)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(keptTrain == expect)
  }

  test("curate runDecontam: the run-rule arm swaps ONLY decontam_ok; verdicts equal decontaminateRuns") {
    val docs = Tables.documents(spark, dir)
    def byId(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r).toMap
    val setForm = byId(Curate.pipeline(docs))
    val runForm = byId(Curate.pipeline(docs, runDecontam = true))
    val runs = Dedup.decontaminateRuns(docs).collect()
      .map(r => r.getLong(0) -> !r.getBoolean(3)).toMap
    assert(runForm.keySet == setForm.keySet)
    runForm.foreach { case (id, r) =>
      // decontam_ok is the run rule (val/bench vacuously clean)
      assert(r.getBoolean(6) == runs.getOrElse(id, true))
      // every gate column BEFORE decontam is byte-identical to the
      // set-overlap frame — the arm swap touches nothing else
      (1 to 5).foreach(i => assert(r.getBoolean(i) == setForm(id).getBoolean(i)))
      // kept re-conjoins with the swapped arm
      assert(r.getBoolean(7) ==
        (1 to 6).forall(r.getBoolean))
    }
    // the rules COINCIDE on this corpus (its only contamination is
    // byte-identical replicas, which both flag), so the disagreement pin
    // runs on an engineered device: train doc A quotes 13 eval tokens
    // (both rules flag), train doc B quotes only 6 (set overlap flags —
    // shared 5-shingles — but the 13-token run rule is clean). Bucket
    // membership is id-hashed, so pick ids by their measured bucket.
    import spark.implicits._
    val idb = spark.range(0, 300)
      .select(col("id"), Sampling.hashBucket(col("id")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val Seq(tA, tB, tC) = idb.filter(_._2 < 80).take(3).map(_._1).toSeq
    val ev = idb.find(_._2 >= 90).get._1
    val evTokens = (1 to 20).map(i => s"ev$i")
    val device = Seq(
      (ev, evTokens.mkString(" ")),
      (tA, ((1 to 10).map(i => s"fa$i") ++ evTokens.take(13)).mkString(" ")),
      (tB, ((1 to 10).map(i => s"fb$i") ++ evTokens.take(6)).mkString(" ")),
      (tC, (1 to 20).map(i => s"fc$i").mkString(" "))
    ).toDF("doc_id", "text")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("source", org.apache.spark.sql.functions.lit("s"))
    def deco(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getBoolean(6)).toMap
    val setD = deco(Curate.pipeline(device))
    val runD = deco(Curate.pipeline(device, runDecontam = true))
    assert(!setD(tA) && !runD(tA), "the 13-token quote must flag under BOTH rules")
    assert(!setD(tB) && runD(tB),
      "the 6-token quote must flag under set overlap and pass the run rule")
    assert(setD(tC) && runD(tC))

    // the STORED-eval-index arm (r17): the assembled frame probes the
    // catalog-pinned eval postings instead of re-shingling the eval slice
    // per run — byte-identical to the inline run arm over the warehouse
    // corpus (the index only changes where the postings come from)
    val runInline = Curate.pipeline(docs, runDecontam = true)
      .collect().map(_.toSeq.toVector).toSeq
    val runIndexed = Curate.pipeline(docs, runDecontam = true,
        evalIndexDir = Some(dir))
      .collect().map(_.toSeq.toVector).toSeq
    assert(runIndexed == runInline)
  }

  test("curate sourceGate: the host arm adds ONE gate column; verdicts equal sourceFilter; kept re-conjoins") {
    val docs = Tables.documents(spark, dir)
    val base = Curate.pipeline(docs).collect().map(r => r.getLong(0) -> r).toMap
    val sourced = Curate.pipeline(docs, sourceGate = true, minAvgQuality = 0.29)
      .collect().map(r => r.getLong(0) -> r).toMap
    val srcOk = SourceCurate.sourceFilter(docs, minAvgQuality = 0.29)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(sourced.keySet == base.keySet)
    // both verdict sides must be live on this corpus for the pin to bite
    assert(srcOk.values.exists(identity) && srcOk.values.exists(!_))
    sourced.foreach { case (id, r) =>
      // text gates byte-identical to the plain frame (columns 1..6)
      (1 to 6).foreach(i => assert(r.getBoolean(i) == base(id).getBoolean(i)))
      // column 7 is the host verdict, exactly sourceFilter's
      assert(r.getBoolean(7) == srcOk(id))
      // kept = text gates AND source_ok
      assert(r.getBoolean(8) == (1 to 7).forall(r.getBoolean))
      // a source-dropped doc carries NULL split/shard like any reject
      if (!r.getBoolean(8)) assert(r.isNullAt(9) && r.isNullAt(10))
    }
  }

  test("curate budgetTokens: the selection arm adds ONE gate column; verdicts equal selectByBudget over kept-train; shards renumber") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val base = Curate.pipeline(docs).collect().map(r => r.getLong(0) -> r).toMap
    // pick a budget that BITES: half the kept-train tokens of the plain run
    val keptTrain = docs.join(
      Curate.pipeline(docs).where(col("kept") && col("split") === "train")
        .select(col("doc_id")), Seq("doc_id"), "left_semi")
    val trainTok = BudgetSelect.scored(keptTrain)
      .agg(org.apache.spark.sql.functions.sum(col("n_tokens")))
      .collect()(0).getLong(0)
    val budget = trainTok / 2
    val bsel = BudgetSelect.selectByBudget(keptTrain, budget)
      .collect().map(r => r.getLong(0) -> r.getBoolean(5)).toMap
    assert(bsel.values.exists(identity) && bsel.values.exists(!_),
      "the budget must genuinely split the kept-train docs")
    val budgeted = Curate.pipeline(docs, budgetTokens = Some(budget))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(budgeted.keySet == base.keySet)
    val buck = Sampling.hashBucket(col("doc_id"))
    val trainIds = docs.where(buck < 80).select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    budgeted.foreach { case (id, r) =>
      // text gates byte-identical to the plain frame (columns 1..6)
      (1 to 6).foreach(i => assert(r.getBoolean(i) == base(id).getBoolean(i)))
      val baseKept = base(id).getBoolean(7)
      // column 7 is budget_ok: the family verdict for kept-train docs,
      // vacuously true for kept val/bench, false for gate-dropped
      val wantB =
        if (!baseKept) false
        else if (trainIds(id)) bsel(id)
        else true
      assert(r.getBoolean(7) == wantB, s"budget_ok drifted for doc $id")
      // kept re-conjoins
      assert(r.getBoolean(8) == (baseKept && wantB))
      if (!r.getBoolean(8)) assert(r.isNullAt(9) && r.isNullAt(10))
    }
    // shards renumber over the BUDGET-kept train docs only: the shard
    // sequence must equal tokenShards over exactly that subset
    val keptIds = budgeted.collect { case (id, r) if r.getBoolean(8) &&
      r.getString(9) == "train" => id }.toSet
    val want = Sampling.tokenShards(
        docs.join(keptIds.toSeq.toDF("doc_id"), Seq("doc_id"), "left_semi"),
        10000L)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("shard")).toMap
    keptIds.foreach(id => assert(budgeted(id).getLong(10) == want(id),
      s"shard drifted for doc $id — budget-dropped docs must not consume budget"))
  }

  test("pipelineMultimodal: per-modality offenders gate kept; media_ok composes the treatment arms") {
    val docs = Tables.documents(spark, dir)
    // the pair device: docs 2k and 2k+1 share a blob payload (512 bytes of
    // repeated md5 hex keyed on doc_id div 2) in the SAME modality
    // ((doc_id div 2) % 3), so every complete pair's odd member is a media
    // duplicate — offenders guaranteed in all three families; doc_id % 97
    // == 0 rows get NO blob (the vacuously-clean arm)
    val wavH = lit(Multimodal.pcmWavHeader(8000, 1, 0x7FFFFFFFL))
    val mp4H = lit(Multimodal.mp4VideoFramesHeader())
    val payload = expr("repeat(md5(cast(doc_id div 2 as string)), 16)").cast("binary")
    val m = expr("(doc_id div 2) % 3")
    val blobs = docs.where(expr("doc_id % 97 != 0"))
      .select(col("doc_id"),
        when(m === 0, payload)
          .when(m === 1, concat(wavH, payload))
          .otherwise(concat(mp4H, payload)).as("blob"))
    val out = Curate.pipelineMultimodal(spark, docs, blobs)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.size == 500)

    // text gate columns carried verbatim from the text-only pipeline
    val text = Curate.pipeline(docs).collect().map(r => r.getLong(0) -> r).toMap
    out.foreach { case (id, r) =>
      (1 to 6).foreach(i => assert(r.getBoolean(i) == text(id).getBoolean(i),
        s"text gate $i diverged for doc $id"))
    }

    // media_ok equals the standalone treatment arms on the dispatched slices
    def verdicts(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val media =
      verdicts(Dedup.imageDedup(spark, blobs.where(m === 0))) ++
      verdicts(Dedup.audioDedup(spark, blobs.where(m === 1))) ++
      verdicts(Dedup.videoDedup(spark, blobs.where(m === 2)))
    out.foreach { case (id, r) =>
      assert(r.getBoolean(7) == media.getOrElse(id, true),
        s"media_ok diverged for doc $id")
    }
    // one offender per modality, and the no-blob docs are vacuously clean
    (0 to 2).foreach(mm => assert(out.exists { case (id, r) =>
      (id / 2) % 3 == mm && !r.getBoolean(7) }, s"no offender in modality $mm"))
    out.collect { case (id, r) if id % 97 == 0 => assert(r.getBoolean(7)) }

    // kept = text gates ∧ media_ok; split/shard respect the COMPOSED verdict
    out.foreach { case (id, r) =>
      val kept = (1 to 7).forall(r.getBoolean)
      assert(r.getBoolean(8) == kept)
      if (!kept) assert(r.isNullAt(9) && r.isNullAt(10))
    }
    val keptTrain = out.collect {
      case (id, r) if r.getBoolean(8) && !r.isNullAt(10) => id -> r.getLong(10)
    }.toMap
    assert(keptTrain.nonEmpty)
    val expect = Sampling.tokenShards(
        docs.where(col("doc_id").isin(keptTrain.keys.toSeq: _*)), 10000L)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(keptTrain == expect,
      "shard numbering must run over the media-composed kept set")
  }

  test("pipelineMultimodal crossModal: videos matching a corpus still are refused, everything else unchanged") {
    val docs = Tables.documents(spark, dir)
    val wavH = lit(Multimodal.pcmWavHeader(8000, 1, 0x7FFFFFFFL))
    val mp4H = lit(Multimodal.mp4VideoFramesHeader())
    val payload = expr("repeat(md5(cast(doc_id div 2 as string)), 16)").cast("binary")
    val m = expr("(doc_id div 2) % 3")
    val base = docs.where(expr("doc_id % 97 != 0"))
    // the pair device plus EXTRA blob-only stills (ids +1000000) whose 32
    // bytes equal the md5 block every frame of a selected video class
    // ((doc_id div 2) % 5 = 2) repeats
    val blobs = base.select(col("doc_id"),
        when(m === 0, payload)
          .when(m === 1, concat(wavH, payload))
          .otherwise(concat(mp4H, payload)).as("blob"))
      .unionByName(base
        .where(expr("(doc_id div 2) % 3 = 2 AND doc_id % 2 = 0 AND (doc_id div 2) % 5 = 2"))
        .select((col("doc_id") + lit(1000000L)).as("doc_id"),
          expr("cast(md5(cast(doc_id div 2 as string)) as binary)").as("blob")))
    def mediaOf(crossModal: Boolean) =
      Curate.pipelineMultimodal(spark, docs, blobs, crossModal = crossModal)
        .collect().map(r => r.getLong(0) -> r.getBoolean(7)).toMap
    val off = mediaOf(false)
    val on = mediaOf(true)
    // the arm only ever REMOVES: on => off implication, and the flipped
    // set is exactly the targeted video classes (BOTH pair members — the
    // matched still outranks the video family's own keeper election)
    val flipped = on.collect { case (id, ok) if !ok && off(id) => id }.toSet
    val expected = base.where(
        expr("(doc_id div 2) % 3 = 2 AND (doc_id div 2) % 5 = 2"))
      .collect().map(_.getLong(0)).toSet
    assert(flipped == expected.filter(off), s"flipped $flipped")
    assert(expected.forall(id => !on(id)), "a targeted video survived")
    on.foreach { case (id, ok) =>
      if (!flipped(id)) assert(ok == off(id), s"non-target doc $id changed")
    }
  }

  test("curate export: train shards + quarantine + dataset card materialize consistently") {
    val docs = Tables.documents(spark, dir)
    val path = java.nio.file.Files.createTempDirectory("graft-curate-").toString
    val decisions = Curate.export(spark, docs, path)
    val kept = decisions.where(col("kept")).count()
    val keptTrain = decisions
      .where(col("kept") && col("split") === "train").count()
    // the shard export carries exactly the kept train docs
    val shards = spark.read.json(s"$path/train")
    assert(shards.count() == keptTrain)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(path, "train", "manifest.json")))
    // the quarantine holds every rejected doc with its gate attribution
    val quarantine = spark.read.parquet(s"$path/quarantine")
    assert(quarantine.count() == docs.count() - kept)
    assert(quarantine.columns.contains("quality_ok"))
    assert(quarantine.where(col("kept")).count() == 0)
    // the card aggregates the KEPT corpus only
    val card = spark.read.parquet(s"$path/card")
    assert(card.agg(sum(col("n_docs"))).head().getLong(0) == kept)

    // each train doc sits in the shard partition its decision row names
    val train = decisions.where(col("kept") && col("split") === "train")
    val shardOf = train.select(col("doc_id"), col("shard")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the shard partition column reads back as its narrowest type (int)
    assert(shards.select(col("doc_id"), col("shard")).collect()
      .map(r => r.getLong(0) -> r.getAs[Number](1).longValue).toMap == shardOf)
    // the manifest is byte-for-byte the one tokenShards over the kept-train
    // docs describes (the assignment writeShards would have recomputed)
    val trainDocs = docs.join(train.select(col("doc_id")), Seq("doc_id"), "left_semi")
    val expected = Sampling.tokenShards(trainDocs, 10000L).groupBy(col("shard"))
      .agg(count(lit(1)), sum(col("n_tok"))).orderBy(col("shard")).collect()
    assert(expected.length > 1, "the fixture should span several shards")
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path, "train", "manifest.json")), "UTF-8")
    assert(manifest == expected.map(r =>
        s"""{"shard":${r.getLong(0)},"docs":${r.getLong(1)},"tokens":${r.getLong(2)}}""")
      .mkString(s"""{"tokens_per_shard":10000,"n_shards":${expected.length},"shards":[""",
        ",", "]}\n"))
    // the quarantine is the rejected decision rows, row for row
    val rejected = decisions.where(!col("kept")).collect().toSeq
    assert(quarantine.orderBy(col("doc_id")).collect().toSeq == rejected)
    // the returned frame outlives the export's writes and is the pipeline
    assert(decisions.collect().toSeq == Curate.pipeline(docs).collect().toSeq)
  }
}
