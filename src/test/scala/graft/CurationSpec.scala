package graft

import org.apache.spark.sql.functions._

/** Planted-corpus proofs for the heuristic-filter / decontamination /
  * mixture operators (#137-141): each rule fires exactly where the
  * construction says it must, and nowhere else.
  */
class CurationSpec extends SparkSpec {

  /** A documents.parquet-shaped planted corpus with per-doc source. */
  private def writeDocs(rows: Seq[(Long, String, String)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cur_").toString
    rows.map { case (id, t, src) => (id, t, "en", src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("C4 rules: each line/page heuristic fires exactly as planted") {
    import spark.implicits._
    val keptLine = "This line has five good words."
    val dir = writeDocs(Seq(
      // 4 lines, only the first survives (short / no punctuation /
      // javascript) -> page dropped at the 3-kept-line rule
      (1L, s"$keptLine\nshort line.\nNo terminal punctuation in this line\n" +
        "The javascript keyword kills this long line.", "s"),
      // 3 surviving lines, no page flags -> kept
      (2L, s"$keptLine\n$keptLine\n$keptLine", "s"),
      // surviving lines but a brace on the page -> dropped
      (3L, s"$keptLine\n$keptLine\n$keptLine\n{", "s"),
      // lorem ipsum, case-insensitive -> dropped
      (4L, s"$keptLine\n$keptLine\n$keptLine Lorem IPSUM tail.", "s"),
      (5L, "", "s")))
    val out = SparkEntry.queries("q_c4_rules")(spark, dir)
      .select("doc_id", "n_lines", "n_kept_lines", "has_brace", "has_lorem", "keep")
      .as[(Long, Long, Long, Boolean, Boolean, Boolean)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (1L, 4L, 1L, false, false, false),
      (2L, 3L, 3L, false, false, true),
      (3L, 4L, 3L, true, false, false),
      (4L, 3L, 3L, false, true, false),
      (5L, 0L, 0L, false, false, false)), s"C4 verdicts drifted: $out")
    // the retained-character fraction follows the kept lines exactly
    val f1 = SparkEntry.queries("q_c4_rules")(spark, dir)
      .where(col("doc_id") === 1L).select("kept_char_frac").as[Double].head()
    val lines1 = Seq(keptLine, "short line.",
      "No terminal punctuation in this line",
      "The javascript keyword kills this long line.")
    assert(math.abs(f1 - keptLine.length.toDouble / lines1.map(_.length).sum) < 1e-6)
    // empty doc: dirty-record rule — visible with NULL fraction
    assert(SparkEntry.queries("q_c4_rules")(spark, dir)
      .where(col("doc_id") === 5L && col("kept_char_frac").isNull).count() == 1)
  }

  test("Gopher rules: each rule fails exactly on its planted violator") {
    import spark.implicits._
    // 60 words, clean prose shape: every rule passes
    val good = Array.fill(6)("the quick brown foxes jumped over that lazy dogs with")
      .mkString(" ")
    // >= 50 words but every line bullet-started
    val bullets = Array.fill(10)("- item alpha beta gamma delta epsilon zeta")
      .mkString("\n")
    // >= 50 words with a #-symbol per word planted
    val symbols = good + " " + Array.fill(12)("#").mkString(" ")
    // >= 50 words, all numeric -> alpha fraction 0; also kills stopwords
    val numeric = (1 to 60).map(_.toString).mkString(" ")
    val dir = writeDocs(Seq(
      (1L, good, "s"), (2L, bullets, "s"), (3L, symbols, "s"),
      (4L, numeric, "s"), (5L, "", "s")))
    val out = SparkEntry.queries("q_gopher_rules")(spark, dir)
      .select("doc_id", "r_word_count", "r_bullets", "r_symbols", "r_alpha",
        "r_stops", "pass")
      .as[(Long, Option[Boolean], Option[Boolean], Option[Boolean],
        Option[Boolean], Boolean, Boolean)]
      .collect().sortBy(_._1).toSeq
    assert(out(0) == (1L, Some(true), Some(true), Some(true), Some(true), true, true),
      s"clean doc must pass every rule: ${out(0)}")
    assert(out(1)._3 == Some(false) && out(1)._2 == Some(true),
      s"all-bullet doc must fail r_bullets only there: ${out(1)}")
    assert(out(2)._4 == Some(false), s"symbol-heavy doc must fail r_symbols: ${out(2)}")
    assert(out(3)._5 == Some(false) && !out(3)._6,
      s"numeric doc must fail r_alpha and r_stops: ${out(3)}")
    // empty doc: word-grain ratios undefined (NULL), verdict still false
    assert(out(4)._2 == Some(false) && out(4)._4.isEmpty && !out(4)._7,
      s"empty doc: NULL ratios, pass=false: ${out(4)}")
    assert(out.count(_._7) == 1, "exactly the clean doc passes")
  }

  test("LM buckets: cutoffs order the buckets strictly, per language") {
    val out = SparkEntry.queries("q_lm_buckets")(spark, sf).cache()
    try {
      // every scored doc lands in a bucket; unscored docs stay NULL
      assert(out.where(col("avg_logprob").isNotNull && col("bucket").isNull)
        .count() == 0)
      assert(out.where(col("avg_logprob").isNull && col("bucket").isNotNull)
        .count() == 0)
      // per lang: min(head) > max(middle) and min(middle) > max(tail) —
      // the strict-cutoff ordering that defines the terciles
      val b = out.where(col("bucket").isNotNull)
        .groupBy("lang").pivot("bucket", Seq("head", "middle", "tail"))
        .agg(min("avg_logprob").as("mn"), max("avg_logprob").as("mx"))
      b.collect().foreach { r =>
        val headMin = r.getAs[Double]("head_mn")
        val midMax = r.getAs[Double]("middle_mx")
        val midMin = r.getAs[Double]("middle_mn")
        val tailMax = r.getAs[Double]("tail_mx")
        assert(headMin > midMax && midMin > tailMax,
          s"bucket ordering violated for ${r.getString(0)}: $r")
      }
      // all five languages split into three non-empty buckets at this SF
      val langs = out.where(col("bucket").isNotNull)
        .select("lang", "bucket").distinct().groupBy("lang").count()
      assert(langs.where(col("count") =!= 3).count() == 0,
        "every language must populate head/middle/tail at sf0.01")
    } finally out.unpersist()
  }

  test("ngram contamination: a verbatim 4-run fires, a 3-run does not") {
    import spark.implicits._
    val dir = writeDocs(Seq(
      // benchmark doc (97 % 97 == 0)
      (97L, "alpha beta gamma delta unique benchmark tail words", "s"),
      // quotes a 4-token run -> exactly one hit window
      (1L, "opening words here alpha beta gamma delta closing words", "s"),
      // shares only a 3-token run -> silent
      (2L, "opening words here alpha beta gamma OTHER closing words", "s"),
      (3L, "totally unrelated content with no overlap at all", "s")))
    val out = SparkEntry.queries("q_contamination_ngram")(spark, dir)
      .select("doc_id", "n_windows", "n_hit_windows")
      .as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 6L, 1L)),
      s"exactly doc 1's single 4-window must hit: $out")
    // and the benchmark side never reports itself
    assert(!out.exists(_._1 == 97L))
  }

  test("mix plan: sqrt damping, normalization, and budget accounting") {
    import spark.implicits._
    // srcA holds 400 tokens, srcB 100 -> damped weights 2:1
    val a = (1 to 50).map(i => (i.toLong, (1 to 8).map(j => s"a${i}w$j").mkString(" "), "srcA"))
    val b = (51 to 75).map(i => (i.toLong, (1 to 4).map(j => s"b${i}w$j").mkString(" "), "srcB"))
    val out = SparkEntry.queries("q_mix_plan")(spark, writeDocs(a ++ b))
      .select("source", "tokens", "weight", "planned_tokens", "epochs")
      .as[(String, Long, Double, Long, Double)].collect().sortBy(_._1).toSeq
    assert(out.map(r => (r._1, r._2)) == Seq(("srcA", 400L), ("srcB", 100L)))
    val (wa, wb) = (out(0)._3, out(1)._3)
    assert(math.abs(wa / wb - 2.0) < 1e-4, s"sqrt damping: 400 vs 100 tokens must weigh 2:1, got $wa/$wb")
    assert(math.abs(wa + wb - 1.0) < 1e-5, "weights normalize")
    assert(out.map(_._4).sum <= (1L << 20), "planned draws never exceed the budget")
    out.foreach { r =>
      assert(math.abs(r._5 - r._4.toDouble / r._2) < 1e-4,
        s"epochs = planned/available for $r")
    }
    // on the real corpus: 20 sources, weights normalize to ~1
    val real = SparkEntry.queries("q_mix_plan")(spark, sf)
    assert(real.count() == 20)
    val wsum = real.agg(sum("weight")).head().getDouble(0)
    assert(math.abs(wsum - 1.0) < 1e-4, s"real-corpus weights sum to $wsum")
  }

  /** Like writeDocs but with per-doc language (the DSIR target key). */
  private def writeDocsLang(rows: Seq[(Long, String, String, String)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cur_").toString
    rows.map { case (id, t, lang, src) => (id, t, lang, src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("n-gram langid: planted languages classify where the stopword heuristic fails") {
    import spark.implicits._
    // training slices: real, distinct character distributions per
    // language — the self-trained Cavnar–Trenkle profiles must pull
    // the short probes to the right language even though the probes
    // carry none of the English stopword list, and zh is invisible to
    // a Latin stopword heuristic entirely
    val en = Seq(
      "the quick brown fox jumps over the lazy dog while the children watch",
      "a library of good books is the heart of every school in the town",
      "the weather this morning is cold and the wind blows from the north",
      "reading and writing are the skills every student wants to master")
    val fr = Seq(
      "le renard brun saute par dessus le chien paresseux pendant que les enfants regardent",
      "une bibliothèque de bons livres est le coeur de chaque école de la ville",
      "le temps ce matin est froid et le vent souffle du nord vers la mer",
      "la lecture et l'écriture sont des compétences que chaque étudiant veut maîtriser")
    val zh = Seq(
      "敏捷的棕色狐狸跳过懒惰的狗孩子们在旁边观看",
      "一座好书图书馆是镇上每所学校的心脏所在",
      "今天早上天气寒冷北风吹向大海的方向",
      "阅读和写作是每个学生都想掌握的技能")
    val probes = Seq(
      // short, stopword-free English: #32's heuristic calls this
      // 'unknown' (stop_ratio 0 < 0.04); the gram profiles must not
      (100L, "children reading good books", "en"),
      (101L, "le vent froid du nord", "fr"),
      (102L, "学生喜欢阅读好书", "zh"),
      // gram-less doc: the dirty rule — 'unknown' in both operators
      (103L, "", "en"))
    val train =
      en.zipWithIndex.map { case (t, i) => (i.toLong, t, "en") } ++
      fr.zipWithIndex.map { case (t, i) => (10L + i, t, "fr") } ++
      zh.zipWithIndex.map { case (t, i) => (20L + i, t, "zh") }
    val dir = writeDocsLang(
      (train.map { case (id, t, l) => (id, t, l, "s") } ++
        probes.map { case (id, t, l) => (id, t, l, "s") }))
    val rows = SparkEntry.queries("q_text_langid_ngram")(spark, dir)
      .select("doc_id", "lang", "lang_pred")
      .as[(Long, String, String)].collect()
    val byId = rows.map(r => r._1 -> r).toMap
    // every doc with text — training and probes alike — classifies as
    // its planted language
    rows.filter(_._1 != 103L).foreach { case (id, lang, predLang) =>
      assert(predLang == lang,
        s"doc $id planted $lang but n-gram langid said $predLang")
    }
    assert(byId(103L)._3 == "unknown", "gram-less doc must be 'unknown'")
    // and the probes are exactly where the stopword heuristic fails:
    // no stopwords → 'unknown' for the en probe, and zh is never 'zh'
    val heur = SparkEntry.queries("q_text_langid")(spark, dir)
      .select("doc_id", "lang_pred").as[(Long, String)].collect().toMap
    assert(heur(100L) == "unknown",
      "the planted en probe was supposed to defeat the stopword heuristic")
    assert(heur(102L) != "zh", "the stopword heuristic cannot see zh")
  }

  test("source overlap: twins count into the right cells, diagonal always present") {
    import spark.implicits._
    // srcA: 3 docs, one content-twin pair with srcB, one internal pair
    val dir = writeDocs(Seq(
      (1L, "shared text alpha", "srcA"),
      (2L, "internal twin beta", "srcA"),
      (3L, "internal twin beta", "srcA"),
      (4L, "shared text alpha", "srcB"),
      (5L, "only in b", "srcB")))
    val out = SparkEntry.queries("q_source_overlap")(spark, dir)
      .select("source_a", "source_b", "n_docs")
      .as[(String, String, Long)].collect().toSet
    // diagonal: srcA's internal pair = 2 docs with an in-source twin;
    // srcB has none but its diagonal row still exists
    assert(out.contains(("srcA", "srcA", 2L)), s"got $out")
    assert(out.contains(("srcB", "srcB", 0L)), s"got $out")
    // cross cells: ONE doc each way shares the fingerprint
    assert(out.contains(("srcA", "srcB", 1L)) && out.contains(("srcB", "srcA", 1L)),
      s"got $out")
    assert(out.size == 4, s"no other cells: $out")
    // fraction = n_docs / |source_a|
    val fr = SparkEntry.queries("q_source_overlap")(spark, dir)
      .where(col("source_a") === "srcA" && col("source_b") === "srcA")
      .select("overlap_frac").as[Double].head()
    assert(fr == 2.0 / 3)
  }

  test("DSIR weights: target-like docs score positive, off-target negative") {
    import spark.implicits._
    // target (en) vocabulary disjoint from the off-target (xx) one;
    // enough tokens that the counts dominate the 256-bucket add-1
    // smoothing mass (a 40-token corpus would drown in it)
    val enWords = Seq("alpha", "beta", "gamma", "delta",
      "epsilon", "zeta", "eta", "theta")
    val xxWords = Seq("uno", "dos", "tres", "cuatro",
      "cinco", "seis", "siete", "ocho")
    val mk = (ws: Seq[String]) => Array.fill(50)(ws.mkString(" ")).mkString(" ")
    val dir = writeDocsLang(Seq(
      (1L, mk(enWords), "en", "s"), (2L, mk(enWords), "en", "s"),
      (3L, mk(xxWords), "xx", "s"), (4L, mk(xxWords), "xx", "s"),
      // an unlabeled doc written in the target vocabulary still selects
      (5L, mk(enWords), "xx", "s"),
      (6L, "", "en", "s")))
    val out = SparkEntry.queries("q_dsir_weights")(spark, dir)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1).getAs[Double]("llr") > 0 && out(1).getAs[Boolean]("selected"))
    assert(out(3).getAs[Double]("llr") < 0 && !out(3).getAs[Boolean]("selected"),
      s"off-target doc must score negative: ${out(3)}")
    // selection follows CONTENT, not the label: doc 5 is en-vocab text
    assert(out(5).getAs[Boolean]("selected"), s"content decides: ${out(5)}")
    // dirty-record rule: token-less doc visible, NULL weight, not selected
    assert(out(6).getAs[Long]("n_tokens") == 0L)
    assert(out(6).isNullAt(out(6).fieldIndex("llr")))
    assert(!out(6).getAs[Boolean]("selected"))
  }

  test("filter agreement: cells partition the corpus, disagreement is real") {
    import spark.implicits._
    val out = SparkEntry.queries("q_filter_agreement")(spark, sf)
      .select("filter_a", "filter_b", "both_keep", "both_drop",
        "only_a", "only_b", "agree_rate")
      .as[(String, String, Long, Long, Long, Long, Double)]
      .collect().toSeq
    assert(out.size == 6, s"4 filters -> 6 ordered pairs: $out")
    val n = Tables.documents(spark, sf).count()
    out.foreach { r =>
      assert(r._3 + r._4 + r._5 + r._6 == n,
        s"cells must partition the corpus for ${r._1}/${r._2}: $r")
      assert(r._7 == (r._3 + r._4).toDouble / n, s"agree_rate identity: $r")
    }
    // the published filters genuinely disagree on this corpus — the
    // readout exists because this number is NOT ~1.0
    assert(out.exists(r => r._5 + r._6 > 0),
      "at least one pair must disagree somewhere")
  }

  test("Gopher repetition: line, paragraph, and n-gram masses as planted") {
    import spark.implicits._
    val dupLine = "dup line one."
    val uniq = "unique tail line."
    val para = "para one text."
    val dir = writeDocs(Seq(
      // repeated line: 3 lines, 2 distinct
      (1L, s"$dupLine\n$dupLine\n$uniq", "s"),
      // repeated paragraph (blank-separated)
      (2L, s"$para\n\n$para\n\ndifferent para.", "s"),
      // 2-gram "a b" x3 (mass 9), 3-gram tie broken to "b a b" (mass 10)
      (3L, "a b a b a b", "s"),
      // one 5-token phrase repeated once, apart
      (4L, "one two three four five x one two three four five", "s"),
      // clean prose, no repetition at any grain
      (5L, "each word appears exactly once in this clean doc.", "s"),
      (6L, "", "s")))
    val out = SparkEntry.queries("q_gopher_repetition")(spark, dir)
      .collect().map(r => r.getLong(0) -> r).toMap

    def d(id: Long, c: String): Double =
      out(id).getAs[Double](c)
    // doc 1: dup_line_frac = 1/3; dup chars = one extra copy of dupLine
    assert(d(1, "dup_line_frac") == 1.0 / 3)
    assert(d(1, "dup_line_char_frac") ==
      dupLine.length.toDouble / (2 * dupLine.length + uniq.length))
    assert(!out(1).getAs[Boolean]("pass"), "1/3 dup lines exceeds 0.30")
    // doc 2: paragraph grain fires; its \n-line grain sees the same dup
    assert(d(2, "dup_para_frac") == 1.0 / 3)
    assert(d(2, "dup_para_char_frac") ==
      para.length.toDouble / (2 * para.length + "different para.".length))
    // doc 3: top 2-gram mass 3*len("a b"); 3-gram tie -> "b a b" (larger)
    val t3 = "a b a b a b"
    assert(d(3, "top_2gram_char_frac") == 9.0 / t3.length)
    assert(d(3, "top_3gram_char_frac") == 10.0 / t3.length)
    // doc 4: the repeated 5-gram contributes (c-1)*len once
    val t4 = "one two three four five x one two three four five"
    assert(d(4, "dup_5gram_char_frac") ==
      "one two three four five".length.toDouble / t4.length)
    assert(d(4, "dup_6gram_char_frac") == 0.0, "no 6-gram repeats")
    // doc 5: zero repetition everywhere -> passes
    assert(out(5).getAs[Boolean]("pass"))
    assert(d(5, "dup_line_frac") == 0.0 && d(5, "top_2gram_char_frac") == 0.0)
    // doc 6: dirty-record rule -- NULL measures, visible, pass = false
    assert(out(6).isNullAt(out(6).fieldIndex("dup_line_frac")))
    assert(out(6).isNullAt(out(6).fieldIndex("top_2gram_char_frac")))
    assert(!out(6).getAs[Boolean]("pass"))
  }

  test("blocklist battery and funnel stage fire exactly on planted docs") {
    import spark.implicits._
    // a clean English page (passes lang/quality/repetition), its twin
    // with one blocklisted word (in varied case + punctuation — the
    // word-boundary rule must still see it), one whose blocked word is
    // only a SUBSTRING (must NOT fire — C4 matches words, not infixes),
    // and a null-text doc (NULL verdict)
    val goodText = ("the cat and the dog play in the park and the sun is " +
      "warm and the day is long and the children are happy here today") // q >= tau
    val dir = java.nio.file.Files.createTempDirectory("graft_cur_").toString
    Seq(
      (1L, Option(goodText), "en", "s"),
      (2L, Option(goodText + " visit our CASINO, now!"), "en", "s"),
      (3L, Option(goodText + " the casinos word is only a substring"), "en", "s"),
      (4L, Option.empty[String], "en", "s"))
      .map { case (id, t, lang, src) =>
        (id, t.orNull, lang, src, t.map(_.length.toLong).getOrElse(0L)) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rules = SparkEntry.queries("q_blocklist_rules")(spark, dir)
      .select("doc_id", "n_blocked", "blocked")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getLong(1),
          if (r.isNullAt(2)) null else r.getBoolean(2))).toMap
    assert(rules(1L) == (0L, false), s"clean doc flagged: ${rules(1L)}")
    assert(rules(2L) == (1L, true), s"planted CASINO missed: ${rules(2L)}")
    assert(rules(3L) == (0L, false),
      s"substring 'casinos' must not fire the word rule: ${rules(3L)}")
    assert(rules(4L) == (null, null), "null text must verdict NULL")
    // the rate readout folds the same verdicts (null text -> not blocked)
    val rate = SparkEntry.queries("q_blocklist_rate")(spark, dir).collect()
    assert(rate.length == 1 && rate(0).getLong(1) == 4 &&
      rate(0).getLong(2) == 1 && rate(0).getDouble(3) == 0.25)
    // funnel wiring: the blocked doc reaches stage 4 and dies EXACTLY
    // there; the funnel dashboard's blocklist row loses exactly it
    val verd = SparkEntry.queries("q_curation_verdicts")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), if (r.isNullAt(2)) -1L else r.getLong(2),
          if (r.isNullAt(3)) "" else r.getString(3))).toMap
    assert(verd(2L)._2 == 4L && verd(2L)._3 == "blocklist",
      s"blocked doc should die at the blocklist stage: ${verd(2L)}")
    assert(verd(1L)._1, "the clean twin must survive the whole funnel")
    val funnel = SparkEntry.queries("q_curation_funnel")(spark, dir)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(funnel("repetition") - funnel("blocklist") == 1,
      s"exactly the planted doc must fall at the blocklist stage: $funnel")
  }

  test("training manifest reconciles exactly with its composed stages") {
    val m = SparkEntry.queries("q_training_manifest")(spark, sf).persist()
    // survivor count == kept verdicts that are unclustered or their
    // cluster's elected keeper — re-derived from the standalone gates
    val keep = SparkEntry.queries("q_curation_verdicts")(spark, sf)
      .where(col("keep")).select("doc_id")
    val labels = SparkEntry.queries("q_dup_clusters")(spark, sf)
      .select("doc_id", "cluster_id")
    val keepers = SparkEntry.queries("q_keeper_quality")(spark, sf)
      .select(col("cluster_id"), col("keeper_id"))
    val expected = keep.join(labels, Seq("doc_id"), "left")
      .join(keepers, Seq("cluster_id"), "left")
      .where(col("cluster_id").isNull || col("doc_id") === col("keeper_id"))
      .count()
    assert(m.agg(sum("n_docs")).head.getLong(0) == expected,
      "manifest doc mass drifted from verdicts x keeper election")
    // packs are exactly the ceil of the cell's token mass over the budget
    val badPacks = m.where(col("n_packs") =!=
      when(col("sum_tokens") === 0, 0L)
        .otherwise(floor((col("sum_tokens") - 1) / 512).cast("long") + 1))
      .count()
    assert(badPacks == 0, "n_packs is not ceil(sum_tokens / budget)")
    // eval cells are never drawn; every train cell carries a plan
    assert(m.where(col("split") =!= "train" &&
      col("planned_tokens").isNotNull).count() == 0)
    assert(m.where(col("split") === "train" &&
      col("planned_tokens").isNull).count() == 0)
    // non-vacuous: all three splits materialize, straddles exist
    assert(m.select("split").distinct().count() == 3)
    assert(m.agg(sum("n_straddles")).head.getLong(0) > 0,
      "vacuous: no pack-cut straddles at the gate SF")
    m.unpersist()
  }

  test("quality classifier: planted vocabularies separate; frozen split exact") {
    import spark.implicits._
    import graft.api.Graft
    // Two disjoint vocabularies: the curated slice (source 'wiki')
    // writes in A, the crawl mostly in B — EXCEPT doc 13, a crawl page
    // written in the reference vocabulary. The GPT-3 §2.1 point is
    // exactly that page: the probe must score it reference-like even
    // though its LABEL during the fit said crawl.
    val refText = Seq(
      "theory of prime numbers and proofs",
      "history of ancient rome and carthage",
      "theory of numbers and ancient proofs",
      "prime numbers theory with proofs of rome")
    val crawlText = Seq(
      "click here buy cheap pills now",
      "winner click now cheap casino bonus",
      "buy now cheap bonus pills here",
      "casino winner bonus click buy pills")
    val docs = (refText.zipWithIndex.map { case (t, i) =>
        (i.toLong, t, "wiki")
      } ++ crawlText.zipWithIndex.map { case (t, i) =>
        (10L + i, t, "crawl")
      } :+ ((15L, "theory of prime numbers and ancient history", "crawl"))
      :+ ((16L, "", "crawl")))
      .toDF("doc_id", "text", "source")
    // 16 GD rounds put the planted clusters at ~0.45 vs ~0.11 — the
    // fit is bit-deterministic, so a threshold between them is a
    // stable keep rule (production tunes the threshold to its fit,
    // exactly as GPT-3 tuned its Pareto parameter).
    val out = Graft.qualityClassifier(docs, "doc_id", "text",
        col("source") === "wiki", threshold = 0.3, iters = 16)
      .as[(Long, Double, Boolean)].collect().sortBy(_._1)
    val byId = out.map(r => r._1 -> r).toMap
    assert(out.length == 10, "every doc (incl. the empty one) must score")
    // the curated slice scores reference-like, the crawl vocabulary not
    refText.indices.foreach { i =>
      assert(byId(i.toLong)._3, s"ref doc $i not kept: ${byId(i.toLong)}") }
    (10L to 13L).foreach { id =>
      assert(!byId(id)._3, s"crawl doc $id kept: ${byId(id)}") }
    // the reference-like CRAWL page is recovered — the recipe's point
    assert(byId(15L)._3,
      s"reference-like crawl page must score above threshold: ${byId(15L)}")
    assert(byId(15L)._2 > byId(10L)._2 + 0.25,
      "planted separation margin collapsed")
    // the empty doc scores the fitted prior (bias only, through the
    // micro⁶ fixed-point contraction), not NULL/NaN
    val bias = Graft.qualityClassifierModel(docs, "doc_id", "text",
        col("source") === "wiki", iters = 16)
      .where(col("i") === graft.operators.Text.ClsDims)
      .select("w").as[Double].head()
    assert(math.abs(byId(16L)._2 - bias) < 1e-6,
      "empty doc must score the bias (at fixed-point resolution)")
    // frozen split: fit-then-score equals the one-call form BIT-exactly
    // (micro-batch safety — the model is the only cross-row state)
    val model = Graft.qualityClassifierModel(docs, "doc_id", "text",
      col("source") === "wiki", iters = 16)
    val frozen = Graft.qualityClassifierScore(docs, model, "doc_id", "text")
      .as[(Long, Double)].collect().sortBy(_._1)
    assert(frozen.map(_._2).toSeq == out.map(_._2).toSeq,
      "frozen-model scores drifted from the one-call fit")
  }

  test("collected feature vectors equal the flat feature frame (r21 corners)") {
    // the r21 fit/score shape folds per-doc arrays instead of joining
    // the flat (doc, bucket, x) frame; this pins the two builds
    // element-for-element — including the corners the scaladoc
    // promises: null ids (bias-only null group, token rows dropped),
    // a DUPLICATED id (merged counts, one bias per input row), null
    // and empty text (bias only)
    import graft.operators.Text
    import spark.implicits._
    val docs = Seq(
      (java.lang.Long.valueOf(1L), "alpha beta alpha"),
      (java.lang.Long.valueOf(2L), ""),
      (java.lang.Long.valueOf(3L), null: String),
      (null: java.lang.Long, "gamma delta"),
      (null: java.lang.Long, "epsilon"),
      (java.lang.Long.valueOf(7L), "zeta eta"),
      (java.lang.Long.valueOf(7L), "zeta theta")
    ).toDF("doc_id", "text")
    val flat = Text.classifierFeatures(docs, "doc_id", "text")
      .groupBy("doc_id")
      .agg(collect_list(struct(col("i"), col("x"))).as("fv"))
      .select(col("doc_id"), explode(col("fv")).as("e"))
      .select(col("doc_id"), col("e.i"), col("e.x"))
    val vec = Text.classifierFeatureVecs(docs, "doc_id", "text")
      .select(col("doc_id"), explode(col("fv")).as("e"))
      .select(col("doc_id"), col("e.i"), col("e.x"))
    assert(flat.exceptAll(vec).count() == 0 &&
      vec.exceptAll(flat).count() == 0,
      "collected feature vectors diverged from the flat feature frame")
  }

  test("classifier calibration reconciles with the per-doc verdicts") {
    // #197 is a pure summary of #195: per source, n_docs/n_keep must
    // equal the per-doc gate's keep column grouped by source, and the
    // fixed-point mean must equal the recomputed floor-mean
    import spark.implicits._
    val perDoc = SparkEntry.queries("q_quality_classifier")(spark, sfTiny)
      .join(Tables.documents(spark, sfTiny).select("doc_id", "source"),
        Seq("doc_id"))
    val expect = perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
        (sum(floor(col("score") * lit(1000000.0)).cast("long"))
          .cast("double")
          / (count(lit(1)) * lit(1000000L)).cast("double")).as("mean_score"))
      .as[(String, Long, Long, Double)].collect().sortBy(_._1).toSeq
    val got = SparkEntry.queries("q_classifier_calibration")(spark, sfTiny)
      .select("source", "n_docs", "n_keep", "mean_score")
      .as[(String, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got == expect,
      "calibration drifted from the per-doc verdicts it summarizes")
    assert(got.map(_._2).sum == perDoc.count(),
      "calibration lost or duplicated documents")
  }

  test("classifier holdout: planted vocabularies generalize to unseen docs; gate reconciles") {
    // #198's load-bearing claim: the fit's selection behavior holds on
    // documents the GD never saw. Planted disjoint vocabularies, split
    // by the gate's own hash rule, fit on train only, score the
    // held-out slice — precision and recall at the threshold must be
    // perfect on a separable corpus (the synthetic gate corpus only
    // pins the math; THIS pins the generalization).
    import spark.implicits._
    import graft.api.Graft
    graft.api.Graft.install(spark)
    val refWords = Seq("theory", "prime", "numbers", "proofs",
      "rome", "history", "ancient", "carthage")
    val crawlWords = Seq("click", "buy", "cheap", "pills",
      "casino", "winner", "bonus", "now")
    def mk(words: Seq[String], i: Int): String =
      (0 until 5).map(j => words((i + j) % words.length)).mkString(" ")
    val docs = ((0 until 25).map(i =>
        (i.toLong, mk(refWords, i), s"wiki${i % 2}")) ++
      (0 until 25).map(i =>
        (100L + i, mk(crawlWords, i), s"crawl${i % 2}")))
      .toDF("doc_id", "text", "source")
      .persist()
    val split = pmod(call_function("poly_hash",
      col("doc_id").cast("string")), lit(5L))
    val train = docs.where(split =!= 0)
    val holdout = docs.where(split === 0)
    val (nHoldRef, nHoldCrawl) = (
      holdout.where(col("source").startsWith("wiki")).count(),
      holdout.where(col("source").startsWith("crawl")).count())
    assert(nHoldRef > 0 && nHoldCrawl > 0,
      s"degenerate split: $nHoldRef ref / $nHoldCrawl crawl held out")
    val model = Graft.qualityClassifierModel(train, "doc_id", "text",
      col("source").startsWith("wiki"), iters = 16)
    val scored = Graft.qualityClassifierScore(holdout, model,
        "doc_id", "text")
      .join(holdout.select(col("doc_id"),
        col("source").startsWith("wiki").as("is_ref")), Seq("doc_id"))
      // 0.5 — the gate's own threshold: the planted clusters sit at
      // ~0.70 (ref) vs ~0.31 (crawl) on the held-out slice, so the
      // 0/1-label midpoint separates with ±0.19 margin
      .select(col("is_ref"), (col("score") >= 0.5).as("keep"))
      .as[(Boolean, Boolean)].collect()
    val tp = scored.count(r => r._1 && r._2)
    val fp = scored.count(r => !r._1 && r._2)
    val fn = scored.count(r => r._1 && !r._2)
    assert(fp == 0 && fn == 0,
      s"held-out separation failed: tp=$tp fp=$fp fn=$fn of ${scored.length}")
    assert(tp.toLong == nHoldRef, "some held-out ref doc never scored")
    docs.unpersist()
    // the GATE readout reconciles with its own split and label rules
    // (the hash gate pins the scores; this pins the bookkeeping)
    val gate = SparkEntry.queries("q_classifier_holdout")(spark, sfTiny)
      .as[(String, Boolean, Long, Long, Double, Double)].collect()
    val allDocs = Tables.documents(spark, sfTiny)
    val expHold = allDocs.where(pmod(call_function("poly_hash",
      col("doc_id").cast("string")), lit(5L)) === 0).count()
    assert(gate.map(_._3).sum == expHold,
      "holdout readout lost or duplicated held-out documents")
    gate.foreach { case (src, isRef, n, nKeep, rate, _) =>
      assert(nKeep >= 0 && nKeep <= n && math.abs(rate - nKeep.toDouble / n) < 1e-12,
        s"$src bookkeeping broken: $nKeep/$n rate=$rate")
      val expRef = allDocs.where(col("source") === src)
        .select(pmod(call_function("poly_hash", col("source")), lit(4L)) === 0)
        .head().getBoolean(0)
      assert(isRef == expRef, s"$src is_ref drifted from the #195 label rule")
    }
  }

  test("quality classifier fit is partition-invariant (fixed-point order-free)") {
    // the hash-gate's load-bearing claim: every cross-row sum in the
    // GD fit floor-quantizes to exact integers, so the fitted weights
    // cannot depend on partitioning or aggregation order (the
    // kmeansCentroids discipline)
    import spark.implicits._
    graft.api.Graft.install(spark)
    val docs = Tables.documents(spark, sfTiny)
      .select(col("doc_id"), col("source"), col("text"))
    val isRef = pmod(call_function("poly_hash", col("source")), lit(4L)) === 0
    val a = graft.api.Graft.qualityClassifierModel(
      docs.repartition(3), "doc_id", "text", isRef)
      .as[(Int, Double)].collect().sortBy(_._1).toSeq
    val b = graft.api.Graft.qualityClassifierModel(
      docs.repartition(17), "doc_id", "text", isRef)
      .as[(Int, Double)].collect().sortBy(_._1).toSeq
    assert(a == b, "fitted weights drifted under a different partitioning")
    assert(a.exists(_._2 != 0.0), "vacuous: the fit never moved off w0")
  }
}
