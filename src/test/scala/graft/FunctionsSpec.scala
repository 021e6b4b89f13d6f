package graft

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.functions._

/** The custom Catalyst expressions: semantics pinned against the
  * built-in formulations the oracles use, plus the extensions entry
  * point.
  */
class FunctionsSpec extends SparkSpec {

  test("word_shingles matches the built-in HOF pipeline on real docs") {
    graft.api.Graft.install(spark)
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), expr("word_shingles(text, 3)").as("fast"),
        expr("filter(split(text, ' '), t -> t <> '')").as("toks"))
      .withColumn("slow", expr(
        """CASE WHEN size(toks) >= 3
          |  THEN array_distinct(transform(sequence(1, size(toks) - 2),
          |         i -> concat_ws(' ', toks[i-1], toks[i], toks[i+1])))
          |  ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin))
    val diff = docs.where(col("fast") =!= col("slow")).count()
    assert(diff == 0, "word_shingles diverges from the reference pipeline")
  }

  test("word_shingles edge cases: short, empty, repeated-space text") {
    graft.api.Graft.install(spark)
    import spark.implicits._
    val rows = Seq("", "one", "one two", "a b c", "a  b   c", "x x x x")
      .toDF("text")
      .select(expr("word_shingles(text, 3)").as("sh"))
      .collect()
      .map(_.getSeq[String](0).toList)
    assert(rows(0) == Nil && rows(1) == Nil && rows(2) == Nil)
    assert(rows(3) == List("a b c"))
    assert(rows(4) == List("a b c"), "multi-space runs must collapse like split+filter")
    assert(rows(5) == List("x x x"), "duplicate shingles deduped")
  }

  test("word_shingle_hashes == xxhash64 over word_shingles, element for element") {
    graft.api.Graft.install(spark)
    // real docs AND a planted edge corpus (empty / short / multi-space /
    // duplicate shingles / CJK / punctuation) — the fused generator must
    // emit the exact longs the unfused explode->xxhash64 pipeline does,
    // in the same first-occurrence order
    import spark.implicits._
    val planted = Seq("", "one", "one two", "a b c", "a  b   c",
      "x x x x", "中文 字 符 测试 字 符", "a,b c. d! e? a,b c. d!",
      "répé té és répé té és zz").toDF("text")
    val real = Tables.documents(spark, sf).select(col("text"))
    Seq(planted, real).foreach { df =>
      val cmp = df
        .withColumn("fused", expr("word_shingle_hashes(text, 3)"))
        .withColumn("unfused",
          expr("transform(word_shingles(text, 3), s -> xxhash64(s))"))
      assert(cmp.where(col("fused") =!= col("unfused")).count() == 0,
        "fused shingle hashes diverge from xxhash64(word_shingles)")
      // null-safety: both null out together
      assert(cmp.where(col("fused").isNull =!= col("unfused").isNull).count() == 0)
    }
  }

  test("cosine_sim agrees with the built-in fold formulation") {
    graft.api.Graft.install(spark)
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .limit(50)
    val paired = e.crossJoin(e.select(col("vec_id").as("w_id"), col("v").as("w")))
      .where(col("vec_id") < col("w_id"))
      .withColumn("fast", expr("cosine_sim(v, w)"))
      .withColumn("dot", aggregate(zip_with(col("v"), col("w"), (a, b) => a * b),
        lit(0.0), (acc, x) => acc + x))
      .withColumn("na", aggregate(zip_with(col("v"), col("v"), (a, b) => a * b),
        lit(0.0), (acc, x) => acc + x))
      .withColumn("nb", aggregate(zip_with(col("w"), col("w"), (a, b) => a * b),
        lit(0.0), (acc, x) => acc + x))
      .withColumn("slow", col("dot") / (sqrt(col("na")) * sqrt(col("nb"))))
    // bit-identical, not approximately equal — the oracle depends on it
    assert(paired.where(col("fast") =!= col("slow")).count() == 0)
  }

  test("dot_product agrees with the built-in fold formulation") {
    graft.api.Graft.install(spark)
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .limit(50)
    val paired = e.crossJoin(e.select(col("vec_id").as("w_id"), col("v").as("w")))
      .where(col("vec_id") < col("w_id"))
      .withColumn("fast", expr("dot_product(v, w)"))
      .withColumn("slow", aggregate(zip_with(col("v"), col("w"), (a, b) => a * b),
        lit(0.0), (acc, x) => acc + x))
    // bit-identical, not approximately equal — the oracle depends on it
    assert(paired.where(col("fast") =!= col("slow")).count() == 0)
  }

  test("minhash_sig matches the explode + 64×min-agg formulation") {
    graft.api.Graft.install(spark)
    val K = 64
    val sets = Tables.documents(spark, sf)
      .select(col("doc_id"), expr("word_shingles(text, 3)").as("shingles"))
    val fast = sets
      .select(col("doc_id"), expr(s"minhash_sig(shingles, $K)").as("sig"))
      .where(col("sig").isNotNull)
    val aggs = (0 until K).map(i => min(xxhash64(lit(i), col("shingle"))).as(s"h$i"))
    val slow = sets.select(col("doc_id"), explode(col("shingles")).as("shingle"))
      .groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      .withColumn("sig_slow", array((0 until K).map(i => col(s"h$i")): _*))
      .select("doc_id", "sig_slow")
    assert(fast.join(slow, "doc_id").where(col("sig") =!= col("sig_slow")).count() == 0)
    assert(fast.count() == slow.count(), "empty-shingle docs must drop from both")
  }

  test("minhash_sig is null on empty shingle sets") {
    graft.api.Graft.install(spark)
    val r = spark.sql(
      "SELECT minhash_sig(CAST(array() AS ARRAY<STRING>), 4) AS s").collect()(0)
    assert(r.isNullAt(0))
  }

  test("simhash64 matches the explode + 64×sum-agg formulation") {
    graft.api.Graft.install(spark)
    val docs = Tables.documents(spark, sf)
    val fast = docs
      .where(expr("exists(split(text, ' '), t -> t <> '')"))
      .select(col("doc_id"), expr("simhash64(text)").as("sig"))
    val bitAggs = (0 until 64).map(i =>
      sum(when(col("h").bitwiseAND(lit(1L << i)) =!= 0, 1).otherwise(-1)).as(s"b$i"))
    val slow = docs
      .select(col("doc_id"),
        explode(expr("filter(split(text, ' '), t -> t <> '')")).as("token"))
      .withColumn("h", xxhash64(col("token")))
      .groupBy("doc_id").agg(bitAggs.head, bitAggs.tail: _*)
      .withColumn("sig_slow",
        (0 until 64).map(i => when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L)))
          .reduce((a, b) => a.bitwiseOR(b)))
      .select("doc_id", "sig_slow")
    assert(fast.join(slow, "doc_id").where(col("sig") =!= col("sig_slow")).count() == 0)
    assert(fast.count() == slow.count(), "token-less docs must drop from both")
  }

  // Independent re-derivation of the cross-engine poly family (#188/
  // #189): a from-scratch fold over codePoints — NOT a call into
  // graft.functions.PolyHash — so the expressions are pinned against a
  // second implementation, the way minhash_sig is pinned against the
  // explode formulation. Includes an astral-plane code point (U+1D11E)
  // to pin the code-point (not UTF-16 unit, not byte) grain.
  private def refFold(s: String, base: Long, mod: Long): Long = {
    var acc = 0L
    val it = s.codePoints().iterator()
    while (it.hasNext) acc = (acc * base + it.next()) % mod
    acc
  }

  test("minhash_poly_sig matches an independent per-slot fold") {
    graft.api.Graft.install(spark)
    import spark.implicits._
    val shingles = Seq("a b c", "b c d", "汉字 x y", "𝄞 g clef", "")
    val got = Seq(shingles).toDF("sh")
      .select(expr("minhash_poly_sig(sh, 8)").as("sig"))
      .collect()(0).getSeq[Long](0)
    // MINSTD stream re-derived from scratch
    var x = 1L
    def next(): Long = { x = (x * 48271L) % 2147483647L; x }
    val expected = (0 until 8).map { _ =>
      val a = next() % 1000000006L + 1
      val b = next() % 1000000007L
      shingles.map(s => (a * refFold(s, 31, 1000000007L) + b) % 1000000007L).min
    }
    assert(got == expected, "poly minhash diverged from the re-derivation")
    // empty set stays null (the minhash_sig convention)
    val r = spark.sql(
      "SELECT minhash_poly_sig(CAST(array() AS ARRAY<STRING>), 4) AS s").collect()(0)
    assert(r.isNullAt(0))
  }

  test("simhash_poly matches an independent re-derivation") {
    graft.api.Graft.install(spark)
    import spark.implicits._
    val texts = Seq("the cat sat on the cat", "汉 字 汉  字", // double space
      "𝄞 solo", "lone", "a", "")
    val got = texts.toDF("text")
      .select(expr("simhash_poly(text)").as("sig")).collect().map(_.getLong(0))
    val expected = texts.map { t =>
      val counters = new Array[Int](60)
      t.split(" ").filter(_.nonEmpty).foreach { tok =>
        val v = refFold(tok, 31, 1000000007L) +
          1073741824L * refFold(tok, 131, 998244353L)
        (0 until 60).foreach { j =>
          if (((v >> j) & 1L) != 0L) counters(j) += 1 else counters(j) -= 1 }
      }
      (0 until 60).map(j => if (counters(j) > 0) 1L << j else 0L).sum
    }
    assert(got.toSeq == expected, "poly simhash diverged from the re-derivation")
    assert(got.last == 0L, "token-less text must simhash to 0")
  }

  test("poly_hash matches an independent code-point fold, null-safe") {
    graft.api.Graft.install(spark)
    import spark.implicits._
    val texts = Seq("the cat", "汉字", "𝄞 clef", "a", " ", "")
    val got = texts.toDF("t")
      .select(expr("poly_hash(t)").as("h")).collect().map(_.getLong(0))
    val expected = texts.map(refFold(_, 31, 1000000007L))
    assert(got.toSeq == expected, "poly_hash diverged from the re-derivation")
    assert(got.forall(_ >= 0L), "poly_hash must be non-negative")
    assert(got.last == 0L, "empty string folds to 0")
    // NULL in, NULL out; non-string input refuses at analysis
    val r = spark.sql("SELECT poly_hash(CAST(NULL AS STRING)) AS h").collect()(0)
    assert(r.isNullAt(0))
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT poly_hash(42)").collect()
    }
    // the whole expression family must refuse wrong types at ANALYSIS
    // (this test caught a latent String.apply in every error branch:
    // `simpleString(10)` indexes the type name — catalogString now)
    graft.api.Graft.install(spark)
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT simhash64(42)").collect()
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT word_shingles(42, 'x')").collect()
    }
  }

  test("char_ngram_profile ranks by (count desc, gram asc); oop_distance matches the fold") {
    graft.api.Graft.install(spark)
    import spark.implicits._
    // the profile must equal the relational count→row_number form it
    // replaced (#192's r17 rework): count occurrences of each gram
    // hash, rank by (count desc, hash asc), keep top k
    val texts = Seq("abcabcabx", "汉字汉字汉", "ab", "", "xyz")
    val got = texts.toDF("t")
      .select(expr("char_ngram_profile(t, 3, 4)").as("p"))
      .collect().map(_.getSeq[org.apache.spark.sql.Row](0)
        .map(r => (r.getLong(0), r.getInt(1))))
    val expected = texts.map { t =>
      val hs = t.sliding(3).filter(_.length == 3).toSeq
        .map(g => g.foldLeft(0L)((a, c) => (a * 31 + c.toInt) % 1000000007L))
      hs.groupBy(identity).view.mapValues(_.size.toLong).toSeq
        .sortBy { case (g, c) => (-c, g) }.take(4).zipWithIndex
        .map { case ((g, _), i) => (g, i + 1) }
    }
    assert(got.toSeq == expected, s"profile diverged: ${got.toSeq} vs $expected")
    assert(got(3).isEmpty && got(2).isEmpty, "sub-n strings profile empty")
    // oop_distance = Σ |r_doc − pm[g]| with penalty n on a miss —
    // checked against the HOF fold it replaced (which stays as the
    // executable spec here)
    val prof = texts.toDF("t")
      .select(col("t"), expr("char_ngram_profile(t, 3, 4)").as("prof"))
      .where(size(col("prof")) > 0)
    val pmDf = prof.limit(1)
      .select(map_from_entries(transform(col("prof"),
        e => struct(e.getField("g"), e.getField("r") * 2))).as("pm"))
    val both = prof.crossJoin(pmDf)
      .select(
        expr("oop_distance(prof, pm, 40)").as("fast"),
        aggregate(col("prof"), lit(0L), (acc, e) =>
          acc + coalesce(
            abs(e.getField("r").cast("long") -
              element_at(col("pm"), e.getField("g")).cast("long")),
            lit(40L))).as("slow"))
      .collect()
    assert(both.forall(r => r.getLong(0) == r.getLong(1)),
      s"codegen'd oop diverged from the fold: ${both.mkString(", ")}")
    // NULL in, NULL out; wrong types refuse at ANALYSIS (the r16
    // catalogString discipline)
    val r0 = spark.sql(
      "SELECT char_ngram_profile(CAST(NULL AS STRING), 3, 4) AS p").collect()(0)
    assert(r0.isNullAt(0))
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT char_ngram_profile(42, 3, 4)").collect()
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT oop_distance(42, map(1L, 1), 40)").collect()
    }
  }

  /** The 19 SQL functions graft ships, spelled out independently of
    * the table that registers them. */
  private val graftFunctionNames = Seq("cosine_sim", "dot_product",
    "usable_vec", "word_shingles", "word_shingle_hashes", "minhash_sig",
    "minhash_poly_sig", "simhash64", "simhash_poly", "poly_hash",
    "winnow_fps", "char_ngram_hashes", "char_ngram_profile", "oop_distance",
    "gopher_rep_measures", "fx_dot", "fx_grad", "bloom_agg",
    "bloom_might_contain")

  test("registered functions resolve in plain SQL") {
    graft.api.Graft.install(spark)
    val r = spark.sql(
      "SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c, " +
        "word_shingles('a b c d', 3) AS s").collect()(0)
    assert(r.getDouble(0) == 1.0)
    assert(r.getSeq[String](1) == Seq("a b c", "b c d"))
    graft.api.Graft.install(spark) // idempotent: a repeat call is a no-op
    val missing = graftFunctionNames.filterNot(spark.catalog.functionExists)
    assert(missing.isEmpty, s"not registered by install: $missing")
  }

  private val extensionProbes = Seq(
    "SELECT fx_dot(array(named_struct('i', 1, 'x', 2.0d)), array(0.5d, 0.25d))",
    "SELECT winnow_fps('the quick brown fox jumps over the lazy dog', 5, 4)",
    "SELECT poly_hash('the cat')")

  test("a session wired only by GraftExtensions resolves all 19 functions") {
    val shared = spark // the SparkContext the new session attaches to
    val active = SparkSession.getActiveSession
    val default = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val ext = try SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
    finally {
      active.foreach(SparkSession.setActiveSession)
      default.foreach(SparkSession.setDefaultSession)
    }
    assert(ext ne shared, "the builder handed back the shared session")
    val missing = graftFunctionNames.filterNot(ext.catalog.functionExists)
    assert(missing.isEmpty, s"not injected by GraftExtensions: $missing")
    graft.api.Graft.install(spark)
    for (q <- extensionProbes) {
      val got = ext.sql(q).collect().toSeq
      assert(!got.head.isNullAt(0), s"$q returned null")
      assert(got == spark.sql(q).collect().toSeq, s"$q differs from the installed session")
    }
  }

  test("fx_dot fails the task on a feature index outside the weights") {
    graft.api.Graft.install(spark)
    // the index depends on a column, so the check runs in a task, not
    // in constant folding
    for (i <- Seq(2, -1)) {
      val e = intercept[Exception] {
        spark.sql("SELECT fx_dot(array(named_struct('i', CAST(id AS INT) + " +
          s"($i), 'x', 1.0d)), array(0.5d, 0.25d)) FROM range(1)").collect()
      }
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).toSeq
      assert(msgs.exists(_.contains(s"feature index $i outside weights[0, 2)")),
        s"index $i: ${msgs.mkString(" | ")}")
    }
  }

  test("a wrong argument count fails analysis with the function's arity") {
    graft.api.Graft.install(spark)
    def assertWrongNumArgs(sql: String, name: String, expected: Int,
        actual: Int): Unit = {
      val e = intercept[AnalysisException](spark.sql(sql).collect())
      assert(e.getCondition == "WRONG_NUM_ARGS.WITHOUT_SUGGESTION")
      val params = e.getMessageParameters
      assert(params.get("functionName") == s"`$name`")
      assert(params.get("expectedNum") == expected.toString)
      assert(params.get("actualNum") == actual.toString)
    }
    assertWrongNumArgs("SELECT cosine_sim(array(1.0d))", "cosine_sim", 2, 1)
    assertWrongNumArgs("SELECT poly_hash('a', 'b')", "poly_hash", 1, 2)
  }
}
