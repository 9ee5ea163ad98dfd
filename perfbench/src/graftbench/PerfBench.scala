package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.SparkInternals
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.GraftDatabase
import graft.operators.{CorpusFilter, Curate, Decontaminate, Dedup, Ingest, Similarity}

/** Closed-loop harness for one workload: one client thread calls the
  * engine's public API back to back until the time is up, timing each call.
  * Writes one JSON result (call latencies, set-up times, answers to check,
  * and, for a traced run, per-layer metrics) for `run.py` to check and
  * summarise.
  *
  * Usage: PerfBench <workload> <inputDir> <workDir> <outFile> <seconds>
  *                  <trace 0|1> <cpus> <spansFile> [key=value sizes...]
  */
object PerfBench {
  val Embedder = "local/hash-64"
  val K = 10

  /** `staged`: the run is traced, so every iteration, traced or not,
    * materialises lazy stages one at a time; the two kinds of iteration
    * then do the same work and differ only by the spans. */
  final class Ctx(val spark: SparkSession, val tracer: Tracer, val input: String,
                  val work: String, val sizes: Map[String, Int], val staged: Boolean) {
    val ops = LinkedHashMap.empty[String, ArrayBuffer[Double]]
    val throughput = ArrayBuffer.empty[Double]
    val spaceAmp = ArrayBuffer.empty[Double]
    val answers = ArrayBuffer.empty[String]
    val errors = ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0

    /** Time one call; a call that throws counts as failed. */
    def op[T](kind: String)(f: => T): Option[T] = {
      attempted += 1
      val t0 = System.nanoTime()
      try {
        val out = f
        ops.getOrElseUpdate(kind, ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e6
        Some(out)
      } catch {
        case e: Throwable if !e.isInstanceOf[VirtualMachineError] =>
          failed += 1
          errors += s"$kind: ${Option(e.getMessage).getOrElse(e.getClass.getName).take(300)}"
          None
      }
    }

    def answer(kv: (String, Any)*): Unit = answers += Json.obj(kv: _*)
  }

  trait Workload {
    /** Iterations a run makes even when the time is up. */
    def minIterations: Int = 1
    def setup(): Unit
    /** One iteration of timed calls; stops early once `deadlineNs` passes
      * unless `whole` is set. */
    def iteration(i: Int, deadlineNs: Long, whole: Boolean): Unit
    /** Untimed work after an iteration: answer checks, space, clean-up. */
    def afterIteration(i: Int): Unit = ()
    /** Traced calls outside the iterations (arm profiles); runs after
      * each traced iteration, with tracing on. */
    def profile(i: Int): Unit = ()
    def cleanup(): Unit = ()
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, input, work, outFile, secondsS, traceS, cpusS, spansFile) = args.take(8)
    val sizes = args.drop(8).map { kv => val Array(k, v) = kv.split("=", 2); k -> v.toInt }.toMap
    val bootS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val trace = traceS == "1"
    val cpus = cpusS.toInt

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.default.parallelism", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // as the repository's Bench session: the default 100-entry generated
      // class cache thrashes on the curation plans
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val probe = if (trace) Some(new Probe(spark)) else None
    probe.foreach { p =>
      spark.sparkContext.addSparkListener(p)
      spark.listenerManager.register(p)
    }
    val tracer = new Tracer(spark, probe)
    val ctx = new Ctx(spark, tracer, input, work, sizes, staged = trace)
    val w: Workload = workload match {
      case "ingest_search" => new IngestSearch(ctx)
      case "curate" => new CurateWl(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    var setupS = 0.0
    val iterations = ArrayBuffer.empty[(Boolean, Double)]
    var gcS = 0.0
    var storageMb = 0.0
    var loopS = 0.0
    var teardownS = 0.0
    try {
      val s0 = System.nanoTime()
      w.setup()
      setupS = (System.nanoTime() - s0) / 1e9
      val gc0 = gcMillis()
      val start = System.nanoTime()
      val deadline = start + (secondsS.toDouble * 1e9).toLong
      var i = 0
      // a traced run alternates traced and untraced iterations, at least
      // traced-untraced-traced, so that warm-up drift cancels out of the
      // overhead it reports
      while (System.nanoTime() < deadline || i < w.minIterations || (trace && i < 3)) {
        tracer.on = trace && i % 2 == 0
        tracer.iter = i
        val it0 = System.nanoTime()
        tracer.span("bench.iteration") { w.iteration(i, deadline, whole = trace) }
        iterations += ((tracer.on, (System.nanoTime() - it0) / 1e9))
        if (tracer.on) w.profile(i)
        tracer.on = false
        w.afterIteration(i)
        i += 1
      }
      loopS = (System.nanoTime() - start) / 1e9
      gcS = (gcMillis() - gc0) / 1000.0
      storageMb = SparkInternals.storageBytes(spark.sparkContext) / 1048576.0
    } finally {
      val c0 = System.nanoTime()
      try w.cleanup() finally spark.stop()
      teardownS = (System.nanoTime() - c0) / 1e9
    }

    val layers = if (trace) Layers.metrics(tracer, cpus, iterations.toSeq, gcS, storageMb) else Nil
    if (trace) Files.write(Paths.get(spansFile), tracer.toJson.getBytes(StandardCharsets.UTF_8))
    val out = Json.obj(
      "workload" -> workload, "cpus" -> cpus, "trace" -> trace,
      "jvm_boot_s" -> bootS,
      "jvm_uptime_s" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0,
      "session_s" -> sessionS, "setup_s" -> setupS, "loop_s" -> loopS,
      "teardown_s" -> teardownS,
      "ops" -> ctx.ops.map { case (k, v) => k -> v.toSeq }.toMap,
      "throughput" -> ctx.throughput.toSeq, "space_amp" -> ctx.spaceAmp.toSeq,
      "iterations" -> iterations.map { case (t, s) => Map("traced" -> t, "wall_s" -> s) }.toSeq,
      "attempted" -> ctx.attempted, "failed" -> ctx.failed, "errors" -> ctx.errors.toSeq,
      "gc_s" -> gcS, "storage_mb_after" -> storageMb,
      "layers" -> layers.map { case (n, v, u) => Map("name" -> n, "value" -> v, "unit" -> u) },
      "answers" -> RawJson(ctx.answers.mkString("[", ",\n", "]")))
    Files.write(Paths.get(outFile), out.getBytes(StandardCharsets.UTF_8))
  }

  def gcMillis(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally walk.close()
    }
  }

  def bytesUnder(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val walk = Files.walk(p)
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size(_)).sum
      finally walk.close()
    }
  }

  /** Logical bytes of collection records: id, embedder id, blob and 8
    * bytes per embedding component. */
  def recordBytes(records: DataFrame): Double =
    records.agg(sum(coalesce(octet_length(col("id")), lit(0)) +
      coalesce(octet_length(col("embedderId")), lit(0)) +
      coalesce(octet_length(col("blob")), lit(0)) +
      coalesce(size(col("embedding")), lit(0)) * 8)).head().getLong(0).toDouble
}

import PerfBench._

/** The reference quickstart beside exact top-k at scale. Each iteration
  * chunks, embeds and bulk-ingests a corpus into a fresh small database,
  * then appends small batches, each followed by a text query on the small
  * database and single-vector queries on a large read-only collection; then
  * (traced runs only) one similarity-join batch on the large
  * collection; then compaction of the small database. Set-up builds the
  * large collection straight from the input vectors, outside the timed
  * write path. */
final class IngestSearch(c: Ctx) extends Workload {
  import c._
  private val docs = spark.read.parquet(s"$input/documents.parquet")
  private val nBulk = sizes("docs")
  private val batchDocs = sizes("append_batch")
  private val appends = sizes("appends")
  private val singles = sizes("singles_per_append")
  private val batchQ = sizes("batch_queries")
  private val bulk = docs.where(col("doc_id") < nBulk)
  private def batch(a: Int): DataFrame = docs.where(
    col("doc_id") >= nBulk + a * batchDocs && col("doc_id") < nBulk + (a + 1) * batchDocs)
  private val texts: Array[String] = spark.read.parquet(s"$input/text_queries.parquet")
    .orderBy("query_id").collect().map(_.getString(1))
  private val qvecs: Array[(Long, Array[Double])] = spark.read.parquet(s"$input/queries.parquet")
    .orderBy("query_id").collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
  private var nextText = 0
  private var nextVec = 0
  private var bulkRecords = 0L
  private val bigDir = s"$work/big"
  private var big: GraftDatabase = _
  private var last: Option[(GraftDatabase, String, Int)] = None

  /** Chunk, embed and add `d` to the collection. In a traced run each lazy
    * stage is materialised on its own, so chunking, embedding and the write
    * are timed apart. */
  private def ingest(db: GraftDatabase, d: DataFrame): Unit =
    if (!staged)
      db.addRecords("docs", Ingest.makeRecords(spark, Ingest.chunk(d, "doc_id", "text", 128), Embedder))
    else {
      val chunked = Ingest.chunk(d, "doc_id", "text", 128).persist()
      tracer.spanWith("operators.chunk", (n: Long) => Map("records" -> n.toDouble))(chunked.count())
      val recs = Ingest.makeRecords(spark, chunked, Embedder).persist()
      tracer.spanWith("core.embed", (n: Long) => Map("records" -> n.toDouble))(recs.count())
      tracer.span("core.addRecords")(db.addRecords("docs", recs))
      recs.unpersist(true)
      chunked.unpersist(true)
    }

  private def freshDb(dir: String): GraftDatabase = {
    deleteTree(dir)
    val db = GraftDatabase.make(spark, dir)
    db.addCollection(db.makeCollection("docs", Embedder))
    db
  }

  private def textQuery(db: GraftDatabase, docsUpTo: Int, iter: Int): Unit = {
    val q = texts(nextText % texts.length)
    nextText += 1
    op("query") {
      tracer.spanWith("core.query", (r: Array[Row]) => Map("results" -> r.length.toDouble)) {
        db.query("docs", q.getBytes(StandardCharsets.UTF_8), K).collect()
      }
    }.foreach { rows =>
      answer("kind" -> "query", "iteration" -> iter, "docs_upto" -> docsUpTo, "query" -> q,
        "ids" -> rows.map(_.getString(0)).toSeq, "scores" -> rows.map(_.getDouble(1)).toSeq)
    }
  }

  private def nextVector(): (Long, Array[Double]) = {
    val q = qvecs(nextVec % qvecs.length)
    nextVec += 1
    q
  }

  private def single(): Unit = {
    val (qid, v) = nextVector()
    op("single") {
      tracer.spanWith("core.queryByVector", (r: Array[Row]) => Map("results" -> r.length.toDouble)) {
        big.queryByVector("vecs", v, K).collect()
      }
    }.foreach { rows =>
      answer("kind" -> "single", "qid" -> qid,
        "ids" -> rows.map(_.getString(0)).toSeq, "scores" -> rows.map(_.getDouble(1)).toSeq)
    }
  }

  private def similarityBatch(timed: Boolean): Unit = {
    val qs = Seq.fill(batchQ)(nextVector())
    val qdf = spark.createDataFrame(qs.map { case (id, v) => Row(id, v.toSeq) }.asJava,
      StructType(Seq(StructField("query_id", LongType), StructField("query_vec",
        ArrayType(DoubleType, containsNull = false)))))
    val corpus = big.records("vecs")
      .select(col("id").as("vec_id"), lit(0).as("label"), col("embedding"))
    val call = () => tracer.spanWith("operators.similarityJoin",
        (r: Array[Row]) => Map("results" -> r.length.toDouble, "queries" -> batchQ.toDouble)) {
      Similarity.similarityJoin(corpus, qdf, K).collect()
    }
    (if (timed) op("batch")(call()) else Some(call())).foreach { rows =>
      answer("kind" -> "batch", "qids" -> qs.map(_._1),
        "rows" -> rows.map(r => Seq(r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(4))).toSeq)
    }
  }

  /** Build the large collection, then run one short iteration on it. */
  def setup(): Unit = {
    bulkRecords = Ingest.chunk(bulk, "doc_id", "text", 128).count()
    big = GraftDatabase.make(spark, bigDir)
    val meta = big.makeCollection("vecs", Embedder)
    spark.read.parquet(s"$input/vectors.parquet")
      .select(format_string("v%07d", col("vec_id")).as("id"), lit(Embedder).as("embedderId"),
        lit(null).cast(BinaryType).as("blob"), col("embedding"))
      .write.parquet(meta.path)
    big.addCollection(meta)
    val dir = s"$work/db/setup"
    val db = freshDb(dir)
    ingest(db, bulk)
    for (a <- 0 until 3) {
      ingest(db, batch(a))
      db.query("docs", texts(a).getBytes(StandardCharsets.UTF_8), K).collect()
      for (_ <- 0 until singles) big.queryByVector("vecs", nextVector()._2, K).collect()
    }
    similarityBatch(timed = false)
    db.compact("docs")
    deleteTree(dir)
  }

  def iteration(i: Int, deadlineNs: Long, whole: Boolean): Unit = {
    val dir = s"$work/db/it-$i"
    val db = freshDb(dir)
    val t0 = System.nanoTime()
    if (op("ingest")(ingest(db, bulk)).isDefined)
      throughput += bulkRecords / ((System.nanoTime() - t0) / 1e9)
    var upTo = nBulk
    var a = 0
    while (a < appends && (whole || System.nanoTime() < deadlineNs)) {
      if (op("append")(ingest(db, batch(a))).isDefined) upTo = nBulk + (a + 1) * batchDocs
      textQuery(db, upTo, i)
      for (_ <- 0 until singles) single()
      a += 1
    }
    // the batch's latency is a per-layer figure: traced runs only
    if (whole) similarityBatch(timed = true)
    op("compact")(tracer.span("core.compact")(db.compact("docs")))
    last = Some((db, dir, upTo))
  }

  override def afterIteration(i: Int): Unit = last.foreach { case (db, dir, upTo) =>
    val recs = db.records("docs")
    answer("kind" -> "count", "iteration" -> i, "docs_upto" -> upTo, "count" -> recs.count())
    spaceAmp += bytesUnder(dir) / recordBytes(recs)
    deleteTree(dir)
    last = None
  }

  override def cleanup(): Unit = deleteTree(bigDir)
}

/** The curation pipeline over a seeded corpus: `Curate.export` (decisions
  * plus shard, quarantine and card writes) and the decision frame alone. */
final class CurateWl(c: Ctx) extends Workload {
  import c._
  private val docs = spark.read.parquet(s"$input/documents.parquet")
  private lazy val nDocs = docs.count()
  private lazy val inputBytes = docs.agg(sum(octet_length(col("text")) + octet_length(col("lang")) +
    octet_length(col("source")) + 16)).head().getLong(0).toDouble
  private var checked = false

  /** Two whole iterations, so that every run times the same calls: one
    * call of each kind takes 3–10 s, and a run that timed the second export
    * only sometimes would mix two populations. */
  override def minIterations: Int = 2

  /** One export, cold: the time to a first result; then one decision
    * frame, so that both calls the loop times have run once. */
  def setup(): Unit = {
    require(nDocs > 0 && inputBytes > 0, "empty corpus")
    val dir = s"$work/export/setup"
    Curate.export(spark, docs, dir)
    deleteTree(dir)
    Curate.pipeline(docs).collect()
  }

  def iteration(i: Int, deadlineNs: Long, whole: Boolean): Unit = {
    op("pipeline")(tracer.span("operators.curate")(Curate.pipeline(docs).collect())).foreach { rows =>
      if (!checked) answer("kind" -> "decisions",
        "columns" -> rows.headOption.toSeq.flatMap(_.schema.fieldNames),
        "oracle_sql" -> graft.SparkEntry.oracleSql("curate"),
        "rows" -> rows.map(r => r.toSeq.map {
          case null => null
          case v: java.lang.Long => v.longValue
          case v: java.lang.Integer => v.intValue
          case v: java.lang.Boolean => v.booleanValue
          case v => v.toString
        }).toSeq)
    }
    val dir = s"$work/export/it-$i"
    val t0 = System.nanoTime()
    if (op("export")(tracer.span("operators.export")(Curate.export(spark, docs, dir))).isDefined) {
      throughput += nDocs / ((System.nanoTime() - t0) / 1e9)
      spaceAmp += bytesUnder(dir) / inputBytes
      if (!checked) {
        val manifest = new String(Files.readAllBytes(Paths.get(dir, "train", "manifest.json")),
          StandardCharsets.UTF_8)
        answer("kind" -> "manifest", "json" -> RawJson(manifest.trim))
      }
    }
    deleteTree(dir)
    checked = true
  }

  /** The arms of the pipeline, each called on its own, so that the
    * pipeline's composition overhead can be read off. */
  override def profile(i: Int): Unit = if (i == 0) {
    tracer.span("bench.profile") {
      tracer.span("operators.corpusFilter")(CorpusFilter.decisions(docs).collect())
      tracer.span("operators.dedup")(Dedup.ngramDedup(docs).collect())
      tracer.span("operators.decontaminate")(Decontaminate.contamination(docs).collect())
    }
  }

  override def cleanup(): Unit = deleteTree(s"$work/export")
}
