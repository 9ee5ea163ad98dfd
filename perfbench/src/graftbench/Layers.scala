package graftbench

import scala.collection.mutable.ArrayBuffer

/** Per-layer metrics of a traced run, computed from its spans and from the
  * jobs and stages Spark reported inside them. Per-call fields are means
  * over the calls made; a call the workload never makes reads 0. */
object Layers {
  /** Calls with the standard fields, by span name. */
  val Calls: Seq[String] = Seq(
    "core.addRecords", "core.query", "core.queryByVector", "core.compact", "core.embed",
    "operators.chunk", "operators.similarityJoin", "operators.corpusFilter",
    "operators.dedup", "operators.decontaminate", "operators.curate", "operators.export",
    "io.export")

  private val Mb = 1048576.0

  final case class Work(wallS: Double, cpuS: Double, stages: Int, tasks: Int,
                        shuffleMb: Double, inputRecords: Long, scanMs: Double, jobs: Seq[JobRec])

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  /** Total length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var end = lo
    for ((a0, b0) <- iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
         .filter { case (a, b) => b > a }.sortBy(_._1)) {
      val a = math.max(a0, end)
      if (b0 > a) { total += b0 - a; end = b0 }
    }
    total
  }

  def metrics(t: Tracer, cpus: Int, iterations: Seq[(Boolean, Double)],
              gcS: Double, storageMb: Double): Seq[(String, Double, String)] = {
    def work(s: Span, jobs: Seq[JobRec]): Work = {
      val st = t.stagesOf(jobs)
      val scans = st.filter(_.inputRecords > 0).map(x => (x.submittedMs.toDouble, x.completedMs.toDouble))
      Work(s.wallS, st.map(_.cpuNs).sum / 1e9, st.size, st.map(_.tasks).sum,
        st.map(_.shuffleBytes).sum / Mb, st.map(_.inputRecords).sum,
        covered(scans, s.startMs, s.endMs), jobs)
    }
    def jobWallS(js: Seq[JobRec]): Double = js.map(j => math.max(0L, j.endMs - j.startMs)).sum / 1000.0
    val spans = t.spans.toSeq
    // io: the jobs each Curate.export call starts from Export.writeShards
    val exports = spans.filter(_.name == "operators.export")
      .map(e => e -> t.jobsIn(e).filter(_.site.contains("Export.scala")))
    val ioSpans = for (((e, js), k) <- exports.zipWithIndex; (j, n) <- js.zipWithIndex)
      yield Span(1000000 + 1000 * k + n, "io.export", e.iter, e.id, j.startMs.toDouble,
        math.max(j.endMs, j.startMs).toDouble, 0L, 0.0, 0L, 0L, Map.empty)
    val byName: Map[String, Seq[(Span, Work)]] =
      (spans.map(s => s -> work(s, t.jobsIn(s))) ++ exports.map { case (e, js) =>
        e.copy(name = "io.export", planningMs = 0, codegenMs = 0) -> work(e, js).copy(wallS = jobWallS(js))
      }).groupBy(_._1.name)
    def calls(n: String) = byName.getOrElse(n, Nil)
    def avg(n: String)(f: ((Span, Work)) => Double) = mean(calls(n).map(f))

    val out = ArrayBuffer.empty[(String, Double, String)]
    for (n <- Calls) {
      out += ((s"$n.wall_s", avg(n)(_._2.wallS), "s"))
      out += ((s"$n.cpu_s", avg(n)(_._2.cpuS), "s"))
      out += ((s"$n.stages", avg(n)(_._2.stages.toDouble), "count"))
      out += ((s"$n.tasks", avg(n)(_._2.tasks.toDouble), "count"))
      out += ((s"$n.planning_ms", avg(n)(_._1.planningMs.toDouble), "ms"))
      out += ((s"$n.codegen_ms", avg(n)(_._1.codegenMs), "ms"))
      out += ((s"$n.shuffle_mb", avg(n)(_._2.shuffleMb), "MB"))
    }

    val embed = calls("core.embed")
    val embedRecords = embed.map(_._1.attrs.getOrElse("records", 0.0)).sum
    out += (("core.embed.us_per_record",
      if (embedRecords > 0) embed.map(_._2.cpuS).sum * 1e6 / embedRecords else 0.0, "us"))
    out += (("core.addRecords.jobs", avg("core.addRecords")(_._2.jobs.size.toDouble), "count"))
    // the time of the jobs that run before the first write job
    out += (("core.addRecords.validate_s",
      avg("core.addRecords")(c => jobWallS(c._2.jobs.takeWhile(!_.site.startsWith("parquet at")))), "s"))
    for (n <- Seq("core.query", "core.queryByVector")) {
      out += ((s"$n.fixed_ms", avg(n) { case (s, w) => (s.endMs - s.startMs) - w.scanMs }, "ms"))
      out += ((s"$n.files_read", avg(n)(_._1.files.toDouble), "count"))
    }
    val qbv = calls("core.queryByVector")
    val results = qbv.map(_._1.attrs.getOrElse("results", 0.0)).sum
    val rows = qbv.map(_._2.inputRecords.toDouble).sum
    out += (("core.queryByVector.rows_scanned_per_result", if (results > 0) rows / results else 0.0, "ratio"))
    // size of the files the scan opened
    out += (("core.queryByVector.input_mb", avg("core.queryByVector")(_._1.fileBytes / Mb), "MB"))
    // executor cpu per row scanned by single-vector top-k: parquet decode
    // plus the cosine_sim kernel
    val topk = calls("core.query") ++ qbv
    val topkRows = topk.map(_._2.inputRecords.toDouble).sum
    out += (("functions.cosine.ns_per_row",
      if (topkRows > 0) topk.map(_._2.cpuS).sum * 1e9 / topkRows else 0.0, "ns"))
    val arms = Seq("operators.corpusFilter", "operators.dedup", "operators.decontaminate")
    out += (("operators.curate.compose_s",
      if (calls("operators.curate").isEmpty || arms.exists(calls(_).isEmpty)) 0.0
      else avg("operators.curate")(_._2.wallS) - arms.map(a => avg(a)(_._2.wallS)).sum, "s"))
    out += (("io.export.write_s", avg("io.export")(c => jobWallS(c._2.jobs.filter(j =>
      Seq("save at", "parquet at", "json at").exists(j.site.startsWith)))), "s"))
    out += (("io.export.stages_per_pipeline", avg("operators.export")(_._2.stages.toDouble), "count"))

    // layer self time per traced iteration: a span's wall minus the part its
    // children cover; whatever no layer span covers stays with the root
    val roots = spans.filter(_.name == "bench.iteration")
    val profiled = spans.filter(_.name == "bench.profile").map(_.id).toSet
    val inIter = spans.filter(s => s.parent >= 0 && !profiled(s.parent)) ++ ioSpans
    val children = inIter.groupBy(_.parent)
    def self(s: Span): Double = s.wallS - covered(
      children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)), s.startMs, s.endMs) / 1000.0
    val nIter = math.max(1, roots.size)
    for (layer <- Seq("core", "operators", "io"))
      out += ((s"$layer.self_s", inIter.filter(_.layer == layer).map(self).sum / nIter, "s"))
    val unaccounted = roots.map(self).sum / nIter
    val iterWall = mean(roots.map(_.wallS))
    out += (("trace.unaccounted_s", unaccounted, "s"))
    out += (("trace.unaccounted_share", if (iterWall > 0) unaccounted / iterWall else 0.0, "ratio"))
    val traced = median(iterations.filter(_._1).map(_._2))
    val bare = median(iterations.filterNot(_._1).map(_._2))
    out += (("trace.overhead_s", traced - bare, "s"))
    out += (("trace.overhead_share", if (bare > 0) (traced - bare) / bare else 0.0, "ratio"))
    // the direct cost, free of iteration-to-iteration noise; the spans of
    // the arm profiles are outside the iterations, so this is an upper bound
    out += (("trace.span_cost_s", t.costMs / 1000.0 / nIter, "s"))
    val iterCpu = roots.map(r => work(r, t.jobsIn(r)).cpuS)
    out += (("spark.idle_core_s", mean(roots.zip(iterCpu).map { case (r, c) => r.wallS * cpus - c }), "s"))
    out += (("spark.gc_s", gcS, "s"))
    out += (("spark.storage_mb_after", storageMb, "MB"))
    out.toSeq
  }
}
