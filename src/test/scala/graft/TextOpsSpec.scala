package graft

import org.apache.spark.sql.functions._
import graft.functions.TextOps
import graft.HofForms._

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  test("tokenCount: empty → 0 (reference guard), whitespace runs collapse") {
    val df = Seq("", "  ", "a", "a  b\tc", " x y ").toDF("t")
      .select($"t", TextOps.tokenCount($"t").as("n"))
    val m = df.as[(String, Int)].collect().toMap
    assert(m("") === 0 && m("  ") === 0 && m("a") === 1 && m("a  b\tc") === 3 && m(" x y ") === 2)
  }

  test("bpeTokenEstimate: ceil(len/4) per word") {
    val n = Seq(Tuple1("abcd abcde a")).toDF("t")
      .select(TextOps.bpeTokenEstimate($"t")).as[Int].head()
    assert(n === 1 + 2 + 1)
  }

  test("chunkCount ceil-div matches reference formula") {
    val out = Seq(0, 1, 384, 385, 768, 769).toDF("n")
      .select($"n", TextOps.chunkCount($"n", 384).as("c")).as[(Int, Int)]
      .collect().toMap
    assert(out === Map(0 -> 0, 1 -> 1, 384 -> 1, 385 -> 2, 768 -> 2, 769 -> 3))
  }

  test("langId picks densest stopword language, 'und' when none") {
    val df = Seq(
      "the cat is in the house and it is big",
      "le chat est dans la maison et il est un",
      "el gato es un animal y la casa es que",
      "der hund ist ein tier und die katze ist zu",
      "zzz qqq www rrr").toDF("t")
      .select($"t", TextOps.langId($"t").as("l"))
    val m = df.as[(String, String)].collect().toMap
    assert(m.values.toSeq.count(_ == "und") === 1)
    assert(m("the cat is in the house and it is big") === "en")
    assert(m("le chat est dans la maison et il est un") === "fr")
    assert(m("el gato es un animal y la casa es que") === "es")
    assert(m("der hund ist ein tier und die katze ist zu") === "de")
    assert(m("zzz qqq www rrr") === "und")
  }

  test("fingerprint: deterministic, order-sensitive, bounded") {
    val df = Seq((1L, "a b c"), (2L, "a b c"), (3L, "c b a")).toDF("id", "t")
      .select($"id", TextOps.fingerprint(TextOps.words($"t")).as("fp"))
    val m = df.as[(Long, Long)].collect().toMap
    assert(m(1L) === m(2L))
    assert(m(1L) !== m(3L)) // order matters
    assert(m.values.forall(v => v >= 0 && v < 1000000007L))
  }

  test("textStats kernel == HOF counts on the fixture corpus") {
    val enStop = TextOps.stopwords("en")
    val ws = TextOps.words(lower($"text"))
    val kernel = Tables.documents(spark, sf).select(
      $"doc_id",
      TextOps.textStats(ws, Seq(enStop)).as("ts"))
      .select($"doc_id",
        $"ts".getField("n_words").as("n"),
        element_at($"ts".getField("hits"), 1).as("hits"),
        $"ts".getField("alpha_hits").as("alpha"))
    val hof = Tables.documents(spark, sf).select(
      $"doc_id",
      size(ws).as("n"),
      size(filter(ws, w => w.isInCollection(enStop))).as("hits"),
      size(filter(ws, w => w.rlike("^[a-z]+$"))).as("alpha"))
    assert(kernel.exceptAll(hof).isEmpty && hof.exceptAll(kernel).isEmpty)
  }

  test("textStats alpha byte-test matches the regex on unicode/mixed words") {
    val df = Seq("abc", "aBc", "", "a1b", "héllo", "的了", "z", "hello-world").toDF("w")
      .select(array($"w").as("ws"))
      .select(
        $"ws".getItem(0).as("w"),
        TextOps.textStats($"ws", Nil).getField("alpha_hits").as("k"),
        size(filter($"ws", w => w.rlike("^[a-z]+$"))).as("h"))
    assert(df.filter($"k" =!= $"h").count() === 0)
  }

  test("bpe + fingerprint kernels == HOF folds on the fixture corpus") {
    val docs = Tables.documents(spark, sf)
    val cmp = docs.select(
      TextOps.bpeTokenEstimate($"text").as("bk"),
      TextOps.bpeTokenEstimateHof($"text").as("bh"),
      TextOps.fingerprint(TextOps.words($"text")).as("fk"),
      TextOps.fingerprintHof(TextOps.words($"text")).as("fh"))
    assert(cmp.filter($"bk" =!= $"bh" || $"fk" =!= $"fh").count() === 0)
  }

  test("quality score formula is bounded in [0, 1]") {
    val docs = Tables.documents(spark, sf)
    val out = SparkEntry.queries("q17_quality_score")(spark, sf)
    val bad = out.filter($"score" < 0.0 || $"score" > 1.0).count()
    assert(bad === 0 && out.count() === docs.count())
  }

  // --- real BPE (merge-table) tokenization -------------------------------

  private val testMerges = "/graft/bpe_test_merges.txt"
  // test table: (h,e)=0→256, (l,l)=1→257, (he,ll)=2→258, (hell,o)=3→259

  test("BPE encode follows merge ranks greedily (hand-computed)") {
    import graft.functions.Bpe
    val t = Bpe.table(testMerges)
    assert(Bpe.encodeWord("hello".getBytes("UTF-8"), t).toSeq === Seq(259))
    assert(Bpe.encodeWord("hell".getBytes("UTF-8"), t).toSeq === Seq(258))
    // 'helo': (h,e) rank 0 fires, nothing else applies → [he, l, o]
    assert(Bpe.encodeWord("helo".getBytes("UTF-8"), t).toSeq ===
      Seq(256, 'l'.toInt, 'o'.toInt))
    // left-to-right non-overlapping merges: lllll → [ll, ll, l]
    assert(Bpe.encodeWord("lllll".getBytes("UTF-8"), t).toSeq ===
      Seq(257, 257, 'l'.toInt))
    // no applicable merges → raw bytes
    assert(Bpe.encodeWord("xy".getBytes("UTF-8"), t).toSeq ===
      Seq('x'.toInt, 'y'.toInt))
  }

  test("bpeTokens / bpeDocStats kernels: hand-computed counts and chunks") {
    import graft.expressions.TextExpressions
    val df = Seq("hello helo xy", "", "  \t ", "hello").toDF("t")
      .select($"t",
        TextExpressions.bpeTokens($"t", testMerges).as("ids"),
        TextExpressions.bpeDocStats($"t", 2, testMerges).as("st"))
      .select($"t", $"ids", $"st.n_tokens".as("n"), $"st.n_chunks".as("c"))
    val m = df.collect().map(r => (r.getString(0),
      (r.getSeq[Int](1), r.getInt(2), r.getInt(3)))).toMap
    assert(m("hello") === (Seq(259), 1, 1))
    // hello=1 tok, helo=3, xy=2; greedy K=2 → chunks [hello][helo][xy]
    assert(m("hello helo xy")._2 === 6 && m("hello helo xy")._3 === 3)
    assert(m("hello helo xy")._1 === Seq(259, 256, 'l'.toInt, 'o'.toInt,
      'x'.toInt, 'y'.toInt))
    assert(m("") === (Seq(), 0, 0) && m("  \t ") === (Seq(), 0, 0))
  }

  test("bpeChunkTexts: hand-computed chunk splits; concatenation round-trips; " +
      "every chunk within budget") {
    import graft.expressions.TextExpressions
    val m = Seq("hello helo xy", "hello", "", "  ").toDF("t")
      .select($"t", TextExpressions.bpeChunkTexts($"t", 2, testMerges).as("ch"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    // hello=1 tok, helo=3, xy=2 at K=2 → each word is its own chunk
    assert(m("hello helo xy") === Seq("hello", "helo", "xy"))
    assert(m("hello") === Seq("hello"))
    assert(m("") === Seq() && m("  ") === Seq())
    // production table: chunks re-join to the normalized document, and
    // every chunk's own token count respects the budget
    val docs = Tables.documents(spark, sf)
    val chunked = docs.select($"doc_id", $"text",
      TextExpressions.bpeChunkTexts($"text", 64).as("ch"))
    val bad = chunked
      .select($"doc_id",
        array_join($"ch", " ").as("rejoined"),
        concat_ws(" ", TextOps.words($"text")).as("norm"))
      .filter($"rejoined" =!= $"norm").count()
    assert(bad === 0)
    val over = chunked
      .select(explode($"ch").as("c"))
      .select(TextOps.bpeDocStats($"c", 64).getField("n_tokens").as("n"))
      .filter($"n" > 64).count()
    assert(over === 0)
    // chunk count agrees with the one-pass stats kernel
    val mismatch = chunked
      .select(size($"ch").as("a"),
        TextOps.bpeDocStats($"text", 64).getField("n_chunks").as("b"))
      .filter($"a" =!= $"b").count()
    assert(mismatch === 0)
  }

  test("production merge table: count == size(ids) on the fixture corpus; " +
      "fully-merged corpus words encode to one token") {
    import graft.functions.Bpe
    val t = Bpe.table(Bpe.DefaultResource)
    // 'join' is a whole-word merge in the trained table
    assert(Bpe.encodeWordMemo("join", t).length === 1)
    val docs = Tables.documents(spark, sf)
    val cmp = docs.select(
      size(TextOps.bpeTokens($"text")).as("a"),
      TextOps.bpeDocStats($"text", 64).getField("n_tokens").as("b"),
      TextOps.bpeDocStats($"text", 64).getField("n_chunks").as("c"),
      TextOps.tokenCount($"text").as("w"))
    // count consistency, chunk sanity (>=1 chunk iff >=1 token, and
    // n_chunks >= ceil(n_tokens/64) can be violated only upward — the
    // greedy chunker never packs more than 64 tokens into a chunk)
    assert(cmp.filter($"a" =!= $"b").count() === 0)
    assert(cmp.filter(($"b" > 0) =!= ($"c" > 0)).count() === 0)
    assert(cmp.filter($"c" < ceil($"b" / 64.0)).count() === 0)
    // BPE tokens are subword: at least one per word
    assert(cmp.filter($"b" < $"w").count() === 0)
  }
}
