package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** Writes the run's result file (ops, set-up times, per-layer aggregates)
  * and, for a traced run, its spans as JSON lines. */
object Report {
  val Layers = Seq("bench", "graft.ops", "graft.api", "graft.pii", "graft.sources",
    "graft.streaming", "plan", "exec", "cache")

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def q(s: String) = quote(s)
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
  private def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => q(k) + ":" + v }.mkString("{", ",", "}")

  private def ops(recs: Seq[OpRecord]): String = recs.map { r =>
    obj(Seq("id" -> r.id.toString, "name" -> q(r.name), "ms" -> num(r.ms),
      "rows" -> r.inputRows.toString, "written_bytes" -> r.log.writtenBytes.toString,
      "error" -> r.check.error.map(q).getOrElse("null"),
      "digests" -> obj(r.check.digests.map { case (k, v) => k -> q(v) })))
  }.mkString("[", ",", "]")

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(s.size / 2) }

  /** Per-op means of every per-layer counter over the traced loop. */
  def layers(recs: Seq[OpRecord], loop: Main.Loop, cores: Int): Map[String, Double] = {
    val n = math.max(1, recs.size).toDouble
    val st = recs.map(r => loop.listener.get.stats(r.id))
    def mean(f: OpRecord => Double) = recs.map(f).sum / n
    def smean(f: OpStats => Double) = st.map(f).sum / n
    def perKind(f: OpRecord => Double, keep: OpRecord => Boolean) = {
      val k = recs.filter(keep)
      if (k.isEmpty) 0.0 else k.map(f).sum / k.size
    }
    val skews = st.flatMap(_.stageTaskMs.values).filter(_.size >= 2).map { t =>
      val s = t.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2))
    }
    val batches = st.map(_.streamBatches).sum
    val opMs = recs.map(_.ms).sum
    val self = loop.tracer.selfTimeMs(loop.tracer.resolved)
    Map(
      "ops.build_ms" -> mean(_.log.buildMs),
      "ops.eager_jobs" -> smean(_.eagerJobs),
      "plan.analysis_ms" -> mean(_.log.plans.map(_.analysisMs).sum),
      "plan.optimizer_ms" -> mean(_.log.plans.map(_.optimizerMs).sum),
      "plan.planning_ms" -> mean(_.log.plans.map(_.planningMs).sum),
      "plan.codegen_stages" -> mean(_.log.plans.map(_.codegenStages).sum),
      "plan.exchanges" -> mean(_.log.plans.map(_.exchanges).sum),
      "exec.ms" -> mean(_.log.actionMs),
      "exec.jobs" -> smean(_.jobs),
      "exec.stages" -> smean(_.stages),
      "exec.tasks" -> smean(_.tasks),
      "exec.task_run_ms" -> smean(_.taskRunMs),
      "exec.task_cpu_ms" -> smean(_.taskCpuNs / 1e6),
      "exec.gc_ms" -> smean(_.gcMs),
      "exec.core_busy_frac" -> (if (opMs <= 0) 0.0
        else st.map(_.taskRunMs).sum / (opMs * cores)),
      "exec.task_skew" -> median(skews),
      "exec.shuffle_write_bytes" -> smean(_.shuffleWrite),
      "exec.shuffle_read_bytes" -> smean(_.shuffleRead),
      "exec.spill_bytes" -> smean(_.spill),
      "scan.bytes" -> smean(_.inBytes),
      "scan.rows" -> smean(_.inRecords),
      "write.bytes" -> smean(_.outBytes),
      "write.rows" -> smean(_.outRecords),
      "write.files" -> mean(r => r.lake._1 + r.log.writtenFiles),
      "txn.commits" -> mean(_.lake._2),
      "lake.files_deleted" -> mean(_.lake._3),
      "redact.apply_ms" -> perKind(_.log.redactMs, _.name == "ingest_batch"),
      "api.corpus.run_ms" -> perKind(_.log.api.getOrElse("api.corpus.run", 0.0),
        _.name == "corpus_chain"),
      "api.dedup.edges_ms" -> perKind(_.log.api.getOrElse("api.dedup.edges", 0.0),
        _.name == "corpus_chain"),
      "api.dedup.clusters_ms" -> perKind(_.log.api.getOrElse("api.dedup.clusters", 0.0),
        _.name == "corpus_chain"),
      "api.dedup.representatives_ms" -> perKind(
        _.log.api.getOrElse("api.dedup.representatives", 0.0), _.name == "corpus_chain"),
      "stream.batches" -> smean(_.streamBatches),
      "stream.batch_ms" -> (if (batches == 0) 0.0 else st.map(_.streamBatchMs).sum / batches),
      "stream.state_rows" -> smean(_.streamStateRows.values.sum),
      "cache.blocks_left" -> mean(_.blocksLeft),
      "cache.bytes_left" -> mean(_.bytesLeft),
      "cache.clear_ms" -> mean(_.clearMs),
    ) ++ Layers.map(l => s"self.${l}_ms" -> self.getOrElse(l, 0.0) / n)
  }

  def write(cfg: Config, starts: Seq[Double], warmS: Double, warmErrors: Seq[String],
      recs: Seq[OpRecord],
      wallS: Double, tracedRecs: Seq[OpRecord], loop: Option[Main.Loop],
      kernels: Map[String, Double]): Unit = {
    val jvm = Map("jvm.jit_ms" -> Jvm.jitMs.toDouble, "jvm.gc_ms" -> Jvm.gcMs.toDouble,
      "jvm.heap_peak_mb" -> Jvm.heapPeakMb, "jvm.codecache_used_mb" -> Jvm.codeCacheMb)
    val layerMap = loop.map(l => layers(tracedRecs, l, Main.Cores)).getOrElse(Map.empty)
    val fields = Seq(
      "cores" -> Main.Cores.toString,
      "session_start_s" -> starts.map(num).mkString("[", ",", "]"),
      "warmup_s" -> num(warmS),
      "warm_errors" -> warmErrors.map(q).mkString("[", ",", "]"),
      "wall_s" -> num(wallS),
      "ops" -> ops(recs),
      "traced_wall_s" -> num(loop.map(_.wallS).getOrElse(0.0)),
      "traced_ops" -> ops(tracedRecs),
      "rss_peak_mb" -> num(Jvm.rssPeakMb),
      "layers" -> obj((layerMap ++ kernels ++ jvm).toSeq.sortBy(_._1).map {
        case (k, v) => k -> num(v) }))
    Files.writeString(Paths.get(cfg("result")), obj(fields), UTF_8)
    loop.foreach { l =>
      val lines = l.tracer.resolved.map { s =>
        obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString, "op" -> s.op.toString,
          "name" -> q(s.name), "layer" -> q(s.layer), "start_ns" -> s.startNs.toString,
          "end_ns" -> s.endNs.toString))
      }
      Files.writeString(Paths.get(cfg("spans")), lines.mkString("", "\n", "\n"), UTF_8)
    }
  }
}
