package perfbench

import java.io.FileInputStream
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.CacheHygiene

/** Run settings, written by run.py as a Java properties file. */
final class Config(path: String) {
  private val p = new java.util.Properties
  locally { val in = new FileInputStream(path); try p.load(in) finally in.close() }
  def apply(k: String): String = Option(p.getProperty(k)).getOrElse(sys.error(s"missing $k"))
  def list(k: String): Seq[String] = apply(k).split(',').map(_.trim).filter(_.nonEmpty).toSeq
  def long(k: String): Long = apply(k).toLong
  def double(k: String): Double = apply(k).toDouble
  def get(k: String): Option[String] = Option(p.getProperty(k))
}

final case class OpRecord(id: Long, name: String, traced: Boolean, ms: Double,
    inputRows: Long, check: Check, log: OpLog, blocksLeft: Long, bytesLeft: Long,
    clearMs: Double, lake: (Long, Long, Long))

/** The benchmark JVM: set up, run the workload's closed loop (one client
  * thread), record every op, write one JSON result file. */
object Main {
  /** local[Cores], shuffle partitions = Cores. */
  val Cores = 4
  /** SparkSession starts per run; the median is the start-up part of setup_s. */
  val SetupRounds = 3
  /** corpus_curation chains per pass. */
  val ChainsPerPass = 3

  def session(cfg: Config): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", cfg("work") + "/warehouse")
      .config("spark.local.dir", cfg("work") + "/spark-local")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def ops(cfg: Config): (Seq[Op], Seq[Op]) = {
    val seed = cfg.long("seed")
    val rows: Map[String, Long] = cfg.list("table_rows").map { kv =>
      val Array(k, v) = kv.split(':'); k -> v.toLong
    }.toMap
    val data = cfg("data")
    val queries = mutable.Map.empty[String, Op]
    def query(n: String) = queries.getOrElseUpdate(n, new Ops.Query(n, data, rows))
    cfg("workload") match {
      case "analytic_mix" =>
        val seq = cfg.list("ops").map(query)
        (seq, seq ++ seq)
      case "corpus_curation" =>
        def idLists(k: String) = cfg.get(k).toSeq.flatMap(_.split(';'))
          .filter(_.nonEmpty).map(_.split(' ').map(_.toLong).toSeq)
        val op = new Ops.Curate(cfg("corpus"), cfg.long("corpus_docs"),
          idLists("exact_groups"), idLists("near_pairs"))
        // One chain leaves the next few measurably still warming up.
        (Seq.fill(ChainsPerPass)(op), Seq(op, op))
      case "ingest_maintain" =>
        val batches = cfg.list("batches").zipWithIndex.map { case (b, i) =>
          new Ops.Ingest(b, i, cfg.long("batch_rows"), cfg("work") + "/ingest_out",
            cfg("salt"), seed): Op
        }
        var bi = 0
        val seq = cfg.list("ops").map {
          case "ingest" => bi += 1; batches((bi - 1) % batches.size)
          case n => query(n)
        }
        (seq, batches.take(1) ++ seq.filterNot(_.isInstanceOf[Ops.Ingest]).distinct)
      case w => sys.error(s"unknown workload $w")
    }
  }

  final class Loop(spark: SparkSession, cfg: Config, traced: Boolean) {
    val tracer = new Tracer(traced, spark)
    val listener = if (traced) Some(new ExecListener(tracer)) else None
    listener.foreach { l =>
      spark.sparkContext.addSparkListener(l)
      spark.streams.addListener(l.streams)
    }
    val ctx = new Ctx(spark, cfg, tracer)
    private val tmp = Paths.get(sys.props("java.io.tmpdir"))
    var wallS = 0.0

    private def lakeDelta(before: Map[String, Long], after: Map[String, Long]) = {
      val added = after.keySet -- before.keySet
      val commits = added.map(f => Paths.get(f).getParent)
        .filter(d => d != null && d.getFileName.toString.matches("v=\\d+")).size
      (added.size.toLong, commits.toLong, (before.keySet -- after.keySet).size.toLong)
    }

    /** Whole passes over `seq` until `seconds` of measured time have
      * passed, so every op of the mix is measured equally often. */
    def run(seq: Seq[Op], seconds: Double, firstId: Long): Seq[OpRecord] = {
      val recs = mutable.ArrayBuffer.empty[OpRecord]
      var verifyNs = 0L
      val t0 = System.nanoTime()
      val budget = (seconds * 1e9).toLong
      var i = 0
      while (i % seq.size != 0 || System.nanoTime() - t0 - verifyNs < budget) {
        val op = seq(i % seq.size)
        val id = firstId + i
        i += 1
        val before = if (traced) Ops.listing(tmp) else Map.empty[String, Long]
        tracer.op = id
        ctx.log = new OpLog
        tracer.phase("build") // input reads before the first graft call are the op's too
        val s = System.nanoTime()
        val out = try Right(tracer.span(op.name, "bench")(op.exec(ctx)))
          catch { case e: Throwable => Left(e) }
        val ms = (System.nanoTime() - s) / 1e6
        // The cache clear, the check and the plan walk below are not the op's work.
        tracer.untag()
        if (traced) ctx.log.plans ++= ctx.log.executed.map(PlanStats.of(_, tracer))
        val c0 = System.nanoTime()
        val (blocks, bytes) = Ops.clearCache(ctx)
        val clearMs = (System.nanoTime() - c0) / 1e6
        val v0 = System.nanoTime()
        val check = out match {
          case Right(r) =>
            try op.check(ctx, r)
            catch { case e: Throwable => Check(Map.empty, Some(s"check threw: $e")) }
          case Left(e) => Check(Map.empty, Some(s"${e.getClass.getName}: ${e.getMessage}"))
        }
        CacheHygiene.clear(spark)
        val lake = if (traced) lakeDelta(before, Ops.listing(tmp)) else (0L, 0L, 0L)
        if (traced) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        verifyNs += System.nanoTime() - v0
        recs += OpRecord(id, op.name, traced, ms, op.inputRows, check, ctx.log,
          blocks, bytes, clearMs, lake)
      }
      wallS = (System.nanoTime() - t0 - verifyNs) / 1e9
      recs.toSeq
    }
  }

  /** `--catalog <file>`: the registered query names and their DuckDB
    * oracle twins, as JSON, for the runner's correctness gate. */
  def catalog(path: String): Unit = {
    def q(s: String) = Report.quote(s)
    val oracle = graft.SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (k, v) => q(k) + ":" + q(v) }.mkString("{", ",", "}")
    val names = graft.SparkEntry.queries.keys.toSeq.sorted.map(q).mkString("[", ",", "]")
    Files.writeString(Paths.get(path), s"""{"queries":$names,"oracle":$oracle}""")
  }

  def main(args: Array[String]): Unit = {
    if (args(0) == "--catalog") return catalog(args(1))
    val cfg = new Config(args(0))
    val tmp = Paths.get(sys.props("java.io.tmpdir"))
    Files.createDirectories(tmp)
    // Set-up = SparkSession start (repeated `SetupRounds` times from a
    // clean temp dir; the median counts) + the untimed warm-up (two passes
    // of analytic_mix, two chains, one ingest batch and every maintenance op
    // once), which builds the sentinel lakes, loads classes and pays
    // first-execution JIT and codegen for every op. Each warm-up result is
    // checked too; the check is not set-up time.
    val starts = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (_ <- 1 to SetupRounds) {
      if (spark != null) spark.stop()
      Ops.cleanLakes(tmp)
      val t0 = System.nanoTime()
      spark = session(cfg)
      spark.range(1).count()
      starts += (System.nanoTime() - t0) / 1e9
    }
    val (seq, warm) = ops(cfg)
    val warmErrors = mutable.ArrayBuffer.empty[String]
    val ctx = new Ctx(spark, cfg, new Tracer(false, spark))
    val w0 = System.nanoTime()
    var checkNs = 0L
    warm.foreach { op =>
      try {
        val out = op.exec(ctx)
        CacheHygiene.clear(spark)
        val c0 = System.nanoTime()
        op.check(ctx, out).error.foreach(e => warmErrors += s"${op.name}: $e")
        checkNs += System.nanoTime() - c0
      } catch { case e: Throwable => warmErrors += s"${op.name}: ${e.getMessage}" }
      CacheHygiene.clear(spark)
    }
    val warmS = (System.nanoTime() - w0 - checkNs) / 1e9
    val seconds = cfg.double("seconds")
    val traced = cfg("trace") == "1"
    val plain = new Loop(spark, cfg, traced = false)
    val untracedS = if (traced) seconds / 2 else seconds
    val recs = plain.run(seq, untracedS, 0)
    val traceLoop = if (traced) Some(new Loop(spark, cfg, traced = true)) else None
    val tracedRecs = traceLoop.toSeq.flatMap(_.run(seq, seconds / 2, recs.size))
    val kernels = if (traced) Kernels.run(spark, cfg) else Map.empty[String, Double]
    if (traced) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    Report.write(cfg, starts.toSeq, warmS, warmErrors.toSeq, recs, plain.wallS, tracedRecs,
      traceLoop, kernels)
    spark.stop()
  }
}
