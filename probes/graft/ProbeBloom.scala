package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

// disposable probe main (not part of the library): measures what the
// #127 Bloom prefilter actually buys — the confirm join's input volume
// with and without the sketch, and the false-positive leak vs the
// exact overlap — at a given sf dir and sketch size.
object ProbeBloom {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val numBits = if (args.length > 1) args(1).toLong else 1L << 20
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.api.Graft.install(spark)
    val docs = Tables.documents(spark, dir)
    val isBench = pmod(col("doc_id"), lit(97L)) === 0
    def shingles(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id").as("id"),
        explode(expr("word_shingles(text, 3)")).as("shingle"))
      .select(col("id"), xxhash64(col("shingle")).as("shingle"))
    val corpusSh = shingles(docs.where(!isBench)).persist()
    val vocab = shingles(docs.where(isBench))
      .select("shingle").distinct().persist()
    val nCorpus = corpusSh.count()
    val nVocab = vocab.count()
    require(nVocab > 0,
      s"benchmark slice of $dir has no shingles — nothing to probe")
    val sketch = vocab
      .agg(expr(s"bloom_agg(shingle, ${nVocab}L, ${numBits}L)")).head
      .getAs[Array[Byte]](0)
    val pass = corpusSh.where(call_function("bloom_might_contain",
      lit(sketch), col("shingle"))).count()
    val exact = corpusSh.join(vocab, Seq("shingle"), "left_semi").count()
    println(s"""{"sf":"$dir","num_bits":$numBits,""" +
      s""""corpus_shingle_rows":$nCorpus,"vocab_distinct":$nVocab,""" +
      s""""bloom_pass_rows":$pass,"exact_overlap_rows":$exact,""" +
      s""""join_input_reduction":${nCorpus.toDouble / pass},""" +
      s""""fp_leak_rows":${pass - exact}}""")
    spark.stop()
  }
}
