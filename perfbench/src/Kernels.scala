package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{GraftFunctions, TextFunctions}
import graft.pii.Redact

/** Per-row cost of graft's public Column kernels: each is evaluated over a
  * cached seeded input into the `noop` sink, so the scan is a cache read
  * and the write is free. The input is one partition (`limit`), so this is
  * one core's cost. Median of three passes, in ns per row. */
object Kernels {
  /** Input rows per kernel. */
  val Rows = 50000L

  private def nsPerRow(in: DataFrame, k: Column, rows: Long): Double = {
    val ts = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      in.select(k.as("k")).write.format("noop").mode("overwrite").save()
      System.nanoTime() - t0
    }
    ts.sorted.apply(1).toDouble / rows
  }

  def run(spark: SparkSession, cfg: Config): Map[String, Double] = {
    GraftFunctions.register(spark)
    TextFunctions.register(spark)
    val seed = cfg.long("seed")
    val docs = spark.read.parquet(cfg("kernel_docs")).select(col("doc_id"), col("text"))
    val reps = math.max(1L, (Rows + docs.count() - 1) / docs.count())
    def cached(df: DataFrame) = { val c = df.limit(Rows.toInt).cache(); c.count(); c }
    val text = cached(docs.crossJoin(spark.range(reps).toDF("rep")).select(col("text")))
    val sets = cached(text.select(TextFunctions.shingles3(col("text")).as("a")))
    val pairs = cached(sets.select(col("a"),
      lead(col("a"), 1).over(org.apache.spark.sql.expressions.Window
        .orderBy(monotonically_increasing_id())).as("b")).na.drop())
    val vec = (i: Int) => array((0 until 64).map(j => (rand(seed * 131 + i * 64 + j) - 0.5)
      .cast("float")): _*)
    val vecs = cached(spark.range(Rows).select(vec(0).as("a"), vec(1).as("b")))
    val emails = cached(spark.range(Rows).select(
      concat(lit("user"), col("id").cast("string"), lit("@mail.example")).as("e")))
    val out = Map(
      "kernel.shingles3_ns_per_row" -> nsPerRow(text, TextFunctions.shingles3(col("text")), Rows),
      "kernel.minhash32_ns_per_row" -> nsPerRow(sets, TextFunctions.minhash32(col("a")), Rows),
      "kernel.sorted_intersect_ns_per_row" ->
        nsPerRow(pairs, GraftFunctions.sortedIntersect(col("a"), col("b")), pairs.count()),
      "kernel.dot_ns_per_row" -> nsPerRow(vecs, GraftFunctions.dot(col("a"), col("b")), Rows),
      "kernel.redact_hash_ns_per_row" ->
        nsPerRow(emails, Redact.hashColumn(col("e"), "kernel"), Rows))
    Seq(text, sets, pairs, vecs, emails).foreach(_.unpersist())
    out
  }
}
