package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Tables
import graft.api.Graft
import graft.functions._
import graft.sources.JsonEventSource

/** Module probes of the traced run: each public `api.Graft` fit, SQL
  * function and source is called directly on inputs built (and cached)
  * untimed, and timed as the median of [[Reps]] calls. */
object Probes {
  val Reps = 3
  /** Copies of documents / embeddings behind each function probe, so a
    * probe's time is per-row work rather than job start-up. */
  val Copies = 5

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def cached(df: DataFrame): (DataFrame, Long) = {
    val c = df.persist(StorageLevel.MEMORY_ONLY)
    (c, c.count())
  }

  private def medianMs(f: => Unit): Double = Harness.median((1 to Reps).map { _ =>
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
  })

  def all(spark: SparkSession, data: String, tracer: Tracer): Map[String, Double] = {
    tracer.phase = "probes"
    try api(spark, data, tracer) ++ functions(spark, data) ++ sources(spark, data)
    finally spark.catalog.clearCache()
  }

  def api(spark: SparkSession, data: String, tracer: Tracer): Map[String, Double] = {
    val sc = spark.sparkContext
    val (docs, _) = cached(Tables.documents(spark, data).select("doc_id", "text"))
    val (emb, _) = cached(Tables.embeddings(spark, data)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v")))
    val (pairs, _) = cached(Graft.minhashPairs(docs, "doc_id", "text").select("doc_a", "doc_b"))
    val minhash = medianMs(noop(Graft.minhashPairs(docs, "doc_id", "text")))
    tracer.drain()
    sc.setLocalProperty(Tracer.PhaseKey, "probe.cc")
    val cc = medianMs(noop(Graft.connectedComponents(pairs, "doc_a", "doc_b")))
    sc.setLocalProperty(Tracer.PhaseKey, null)
    tracer.drain()
    Map(
      "api.minhashPairs_ms" -> minhash,
      "api.connectedComponents_ms" -> cc,
      "api.connectedComponents_jobs" -> tracer.jobCount("probe.cc").toDouble / Reps,
      "api.kmeansCentroids_ms" -> medianMs(noop(Graft.kmeansCentroids(emb, "vec_id", "v", 8, 3))),
      "api.pqCodebooks_ms" -> medianMs(noop(Graft.pqCodebooks(emb, "vec_id", "v", 64, 8, 16))),
      "api.bpeLearn_ms" -> medianMs(Graft.bpeLearn(docs)))
  }

  def functions(spark: SparkSession, data: String): Map[String, Double] = {
    Seq[SparkSession => Unit](WordShingles.register, MinHashSig.register,
      SimHash64.register, WinnowFps.register, CharNgramHashes.register,
      ClassifierFx.register, CosineSimilarity.register).foreach(_(spark))
    val copies = spark.range(Copies).toDF("copy")
    val (docs, nDocs) = cached(Tables.documents(spark, data).crossJoin(copies)
      .select(col("text"), lower(col("text")).as("norm"),
        expr("word_shingles(text, 3)").as("shingles")))
    val (vecs, nVecs) = cached(Tables.embeddings(spark, data).crossJoin(copies)
      .select(col("embedding").cast("array<double>").as("v"))
      .select(col("v"), reverse(col("v")).as("v2"),
        transform(sequence(lit(0), lit(63)),
          i => struct(i.as("i"), element_at(col("v"), i + 1).as("x"))).as("fv")))
    val weights = typedLit((0 until 64).map(i => ((i * 37) % 17 - 8) / 8.0))
    def nsPerRow(df: DataFrame, c: org.apache.spark.sql.Column, rows: Long) =
      medianMs(noop(df.select(c.as("o")))) * 1e6 / rows
    Map(
      "functions.minhash_sig_ns_per_row" -> nsPerRow(docs, expr("minhash_sig(shingles, 64)"), nDocs),
      "functions.simhash64_ns_per_row" -> nsPerRow(docs, expr("simhash64(text)"), nDocs),
      "functions.winnow_fps_ns_per_row" -> nsPerRow(docs, expr("winnow_fps(norm, 5, 4)"), nDocs),
      "functions.char_ngram_hashes_ns_per_row" ->
        nsPerRow(docs, expr("char_ngram_hashes(text, 3)"), nDocs),
      "functions.fx_dot_ns_per_row" -> nsPerRow(vecs, call_function("fx_dot", col("fv"), weights), nVecs),
      "functions.cosine_sim_ns_per_row" -> nsPerRow(vecs, expr("cosine_sim(v, v2)"), nVecs))
  }

  def sources(spark: SparkSession, data: String): Map[String, Double] = {
    val scans = Seq[(String, (SparkSession, String) => DataFrame)](
      "lineitem" -> Tables.lineitem, "orders" -> Tables.orders,
      "events" -> Tables.events, "documents" -> Tables.documents)
      .map { case (t, load) => s"sources.scan_${t}_ms" -> medianMs(noop(load(spark, data))) }
    val (lines, n) = cached(spark.read.text(s"$data/events.jsonl").withColumnRenamed("value", "line"))
    scans.toMap + ("sources.json_parse_ns_per_row" ->
      medianMs(noop(JsonEventSource.parse(lines))) * 1e6 / n)
  }
}
