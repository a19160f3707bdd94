package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StructType}

import graft.{CacheHygiene, SparkEntry}
import graft.api.{CorpusPipeline, DedupPipeline}
import graft.pii.Redact

/** What one op's correctness check found. `digests` go to the DuckDB
  * oracle compare in the runner; `error` is a failure found in the JVM. */
final case class Check(digests: Map[String, String], error: Option[String])

/** Measurements an op records about itself while it runs. */
final class OpLog {
  var buildMs, actionMs, redactMs = 0.0
  val api = mutable.Map.empty[String, Double]
  /** DataFrames whose own plan ran in a terminal action (traced runs). */
  val executed = mutable.ArrayBuffer.empty[DataFrame]
  val plans = mutable.ArrayBuffer.empty[PlanStats.Shape]
  var writtenFiles, writtenBytes = 0L
}

final class Ctx(val spark: SparkSession, val cfg: Config, val tracer: Tracer) {
  var log = new OpLog

  /** A call into graft that returns a DataFrame, timed until it exists. */
  def build[T](name: String, layer: String)(body: => T): T = {
    tracer.phase("build")
    val t0 = System.nanoTime()
    val r = tracer.span(name, layer)(body)
    val ms = (System.nanoTime() - t0) / 1e6
    log.buildMs += ms
    if (layer == "graft.api") log.api(name) = log.api.getOrElse(name, 0.0) + ms
    if (layer == "graft.pii") log.redactMs += ms
    r
  }

  /** The terminal action on a built DataFrame. `planned = false` marks an
    * action that runs a plan of its own (a write command), so `df`'s plan
    * is not the one executed and is not read. Plans are read after the op. */
  def act[T](df: DataFrame, name: String, planned: Boolean = true)(f: DataFrame => T): T = {
    tracer.phase("action")
    val t0 = System.nanoTime()
    val r = tracer.span(name, "exec")(f(df))
    log.actionMs += (System.nanoTime() - t0) / 1e6
    if (tracer.on && planned) log.executed += df
    r
  }
}

trait Op {
  def name: String
  /** Generated input rows one execution consumes. */
  def inputRows: Long
  /** The measured work; its result goes to `check`. */
  def exec(c: Ctx): Any
  /** Correctness check, outside the measured window. */
  def check(c: Ctx, out: Any): Check
}

object Ops {
  private lazy val registry = SparkEntry.queries
  private lazy val layers: Map[String, String] = SparkEntry.modules.flatMap { m =>
    val pkg = m.getClass.getName.split('.').dropRight(1).mkString(".")
    m.queries.keys.map(_ -> pkg)
  }.toMap

  /** A registered query, run to a collected result and digested. */
  final class Query(val name: String, dir: String, rows: Map[String, Long]) extends Op {
    private val fn = registry(name)
    var tables: Seq[String] = Nil
    def inputRows: Long = tables.map(t => rows.getOrElse(t, 0L)).sum
    def exec(c: Ctx): Any = {
      val df = c.build(name, layers(name))(fn(c.spark, dir))
      if (tables.isEmpty) tables = PlanStats.tables(df)
      c.act(df, "collect")(d => (d.schema, d.collect()))
    }
    def check(c: Ctx, out: Any): Check = {
      val (schema: StructType, rows: Array[Row]) = out
      Check(Map(name -> Digest.of(schema, rows)), None)
    }
  }

  /** Corpus curation: `CorpusPipeline.run`, then the staged near-dup
    * chain edges → clusters → representatives. */
  final class Curate(dir: String, nDocs: Long, groups: Seq[Seq[Long]],
      nearPairs: Seq[Seq[Long]]) extends Op {
    val name = "corpus_chain"
    def inputRows: Long = nDocs
    private val corpus = new CorpusPipeline()
    private val dedup = new DedupPipeline()
    private var verified = false

    def exec(c: Ctx): Any = {
      val stats = c.build("api.corpus.run", "graft.api")(corpus.run(c.spark, dir))
      val statRows = c.act(stats, "collect")(d => (d.schema, d.collect()))
      val e = c.build("api.dedup.edges", "graft.api")(dedup.edges(c.spark, dir))
      val cl = c.build("api.dedup.clusters", "graft.api")(dedup.clusters(e))
      val reps = c.build("api.dedup.representatives", "graft.api")(dedup.representatives(cl))
      (statRows, c.act(reps, "collect")(_.collect()))
    }

    def check(c: Ctx, out: Any): Check = {
      val ((schema: StructType, stats: Array[Row]), reps: Array[Row]) = out
      // Cluster labels recovered from the representatives report.
      val labels = reps.toSeq.flatMap { r =>
        r.getString(2).split(',').map(m => m.toLong -> r.getLong(0))
      }
      val errs = mutable.ArrayBuffer.empty[String]
      reps.foreach { r =>
        val members = r.getString(2).split(',').map(_.toLong)
        if (members.length != r.getLong(1) || members.min != r.getLong(0))
          errs += s"representative ${r.getLong(0)}: members disagree with n_members/keep id"
      }
      if (labels.map(_._1).distinct.size != labels.size)
        errs += "a document is in two clusters"
      // Planted duplicates have trigram Jaccard >= 0.5 with their source,
      // so each exact group and each near pair must share one cluster.
      val clusterOf = labels.toMap
      (groups ++ nearPairs).foreach { g =>
        if (g.map(clusterOf.get).distinct.size != 1 || clusterOf.get(g.head).isEmpty)
          errs += s"planted duplicates ${g.mkString(",")} not in one cluster"
      }
      if (!verified) { errs ++= curatedInvariants(c); verified = true }
      Check(Map("pipeline_corpus" -> Digest.of(schema, stats)),
        errs.headOption.map(_ => errs.take(3).mkString("; ")))
    }

    /** Exact dedup keeps one doc per planted group; splits partition the
      * curated set. Public stages only; once per run (the op's digests
      * pin every later repeat to the same answer). */
    private def curatedInvariants(c: Ctx): Seq[String] = {
      val docs = c.spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("lang"), col("text"))
      val curated = corpus.dedup(corpus.qualityFilter(docs)).cache()
      val n = curated.count()
      val errs = mutable.ArrayBuffer.empty[String]
      if (curated.select(md5(col("text"))).distinct().count() != n)
        errs += "exact dedup left two docs with the same text"
      val perSplit = corpus.assignSplit(curated).groupBy("split").count().collect()
      if (perSplit.map(_.getLong(1)).sum != n)
        errs += s"per-split counts ${perSplit.mkString} do not sum to curated total $n"
      val kept = curated.select("doc_id").collect().map(_.getLong(0)).toSet
      groups.foreach { g =>
        val k = g.count(kept)
        if (k > 1 || (k == 1 && !kept(g.min)))
          errs += s"exact group ${g.mkString(",")} kept $k docs"
      }
      curated.unpersist()
      errs.toSeq
    }
  }

  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"
  val SsnRe = "[0-9]{3}-[0-9]{2}-[0-9]{4}"

  /** The fixed carpet action list: top-level, struct-nested and
    * array-of-struct paths; Drop, HashPseudonym, PartialMask, Nullify and
    * a conditional scrub of free text. */
  def actions(salt: String): Seq[Redact.Action] = Seq(
    Redact.Drop("ssn"),
    Redact.HashPseudonym("email", salt),
    Redact.PartialMask("phone", keep = 4),
    Redact.HashPseudonym("profile.email", salt),
    Redact.Nullify("profile.address.street"),
    Redact.HashPseudonym("contacts.email", salt),
    Redact.PartialMask("contacts.phone", keep = 4),
    Redact.Drop("contacts.ssn"),
    Redact.When("notes", col("notes").rlike(EmailRe) || col("notes").rlike(SsnRe),
      lit("[REDACTED]")))

  /** One ingest batch: raw Parquet → `Redact.apply` → Parquet. */
  final class Ingest(batch: String, index: Int, rows: Long, outRoot: String, salt: String,
      seed: Long) extends Op {
    val name = "ingest_batch"
    def inputRows: Long = rows
    private val acts = actions(salt)
    private var seq = 0

    def exec(c: Ctx): Any = {
      seq += 1
      val out = s"$outRoot/${Paths.get(batch).getFileName}.$seq"
      val raw = c.spark.read.parquet(batch)
      val red = c.build("redact.apply", "graft.pii")(Redact(raw, acts))
      c.act(red, "write", planned = false)(_.write.mode("overwrite").parquet(out))
      out
    }

    def check(c: Ctx, out: Any): Check = {
      val dir = out.asInstanceOf[String]
      val files = Files.walk(Paths.get(dir)).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      c.log.writtenFiles = files.size
      c.log.writtenBytes = files.map(Files.size).sum
      val errs = mutable.ArrayBuffer.empty[String]
      val red = c.spark.read.parquet(dir)
      val raw = c.spark.read.parquet(batch)
      if (red.schema.fieldNames.contains("ssn")) errs += "top-level ssn survived"
      red.schema("contacts").dataType match {
        case ArrayType(st: StructType, _) if st.fieldNames.contains("ssn") =>
          errs += "contacts.ssn survived"
        case _ =>
      }
      // Hashes, masks and "[REDACTED]" hold no '@' and no SSN-shaped run.
      val asJson = to_json(struct(red.columns.map(col): _*))
      val row = red.agg(count(lit(1)),
        sum(when(instr(asJson, "@") > 0 || asJson.rlike(SsnRe), 1).otherwise(0))).head()
      if (row.getLong(0) != rows) errs += s"row count ${row.getLong(0)} != input $rows"
      if (!row.isNullAt(1) && row.getLong(1) != 0)
        errs += s"${row.getLong(1)} rows still hold a raw email or SSN"
      // Hashed fields equal Redact.hashColumn recomputed on a seeded sample.
      val base = index * rows
      val rng = new scala.util.Random(seed * 31 + seq)
      val ids = Seq.fill(256)(base + rng.nextLong(rows)).distinct.take(64)
      val want = raw.filter(col("cust_id").isin(ids: _*)).select(col("cust_id"),
        Redact.hashColumn(col("email"), salt).as("w_email"),
        Redact.hashColumn(col("profile.email"), salt).as("w_pemail"),
        transform(col("contacts"), x => Redact.hashColumn(x("email"), salt)).as("w_cemail"))
      val got = red.filter(col("cust_id").isin(ids: _*)).select(col("cust_id"),
        col("email"), col("profile.email").as("pemail"),
        transform(col("contacts"), x => x("email")).as("cemail"))
      val cmp = want.join(got, "cust_id").agg(count(lit(1)), sum(when(
        col("w_email") === col("email") && col("w_pemail") === col("pemail") &&
          (col("w_cemail") === col("cemail") ||
            (col("w_cemail").isNull && col("cemail").isNull)), 0).otherwise(1))).head()
      if (cmp.getLong(0) != ids.size || cmp.getLong(1) != 0)
        errs += s"hash sample: ${cmp.getLong(1)} of ${cmp.getLong(0)} rows differ from Redact.hashColumn"
      deleteTree(Paths.get(dir))
      Check(Map.empty, errs.headOption.map(_ => errs.mkString("; ")))
    }
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
      .iterator().asScala.foreach(Files.delete)

  /** Every file under `root` with its size (lake bookkeeping, traced runs). */
  def listing(root: Path): Map[String, Long] =
    if (!Files.exists(root)) Map.empty
    else Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => f.toString -> Files.size(f)).toMap

  /** Remove the fixture-keyed sentinel lakes graft leaves in the temp dir. */
  def cleanLakes(tmp: Path): Unit =
    Option(tmp.toFile.listFiles()).getOrElse(Array.empty).filter { f =>
      f.getName.startsWith("graft_") && !f.getName.startsWith("graft_rewrite_")
    }.foreach(f => deleteTree(f.toPath))

  def clearCache(c: Ctx): (Long, Long) = {
    val sc = c.spark.sparkContext
    val (blocks, bytes) =
      if (!c.tracer.on) (0L, 0L)
      else {
        val info = sc.getRDDStorageInfo
        (info.map(_.numCachedPartitions.toLong).sum, info.map(i => i.memSize + i.diskSize).sum)
      }
    c.tracer.span("cache.clear", "cache")(CacheHygiene.clear(c.spark))
    (blocks, bytes)
  }
}
