package graft

import org.apache.spark.sql.functions._
import graft.ops.Text

class TextSpec extends SparkSpec {
  import spark.implicits._

  test("token and BPE-ish counts on known strings") {
    val df = Seq(
      (1L, "hello world  foo"),
      (2L, "don't stop, it's 42 now!"),
      (3L, "one")).toDF("id", "text")
      .select(col("id"), size(Text.tokens(col("text"))).as("n"),
        Text.bpeishCount(col("text")).as("b"))
    val m = df.collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(m(1L) === ((3, 3))) // 3 ws tokens; 3 letter runs
    // don ' t stop , it ' s 4 2 now ! → letter runs: don,t,stop,it,s,now=6; digits 4,2=2; punct ',',',!=4 → 12
    assert(m(2L) === ((5, 12)))
    assert(m(3L) === ((1, 1)))
  }

  test("language ID picks the right language on real text") {
    val samples = Seq(
      ("en", "the cat sat on the mat and it was happy that you came to see it"),
      ("fr", "le chat est sur la table et les enfants mangent du pain que nous aimons"),
      ("es", "el perro y la casa de los vecinos es una historia que en verdad paso"),
      ("de", "der hund und die katze sind ein gutes team das ist nicht zu glauben mit"),
      ("zh", "这是一个中文句子 它包含很多汉字 所以检测应该很容易"))
    val df = samples.toDF("expected", "text")
      .select(col("expected"), Text.langScores(col("text")).getField("lang").as("pred"))
    df.collect().foreach { r =>
      assert(r.getString(1) === r.getString(0),
        s"expected ${r.getString(0)} got ${r.getString(1)}")
    }
  }

  test("normalize collapses whitespace and lowercases; redactPii replaces spans") {
    import org.apache.spark.sql.functions.col
    val df = Seq(
      "  Mixed   CASE\t\ttext \n with  runs  ",
      "mail me at First.Last+tag@example.co.uk today",
      "see https://example.com/a?b=c#d and http://x.io then stop",
      "no pii here").toDF("text")
      .select(col("text"), Text.normalize(col("text")).as("n"))
      .select(col("n"), Text.redactPii(col("n")).as("r"))
    val rows = df.collect().map(r => (r.getString(0), r.getString(1)))
    assert(rows(0)._1 === "mixed case text with runs")
    assert(rows(1)._2 === "mail me at <EMAIL> today")
    assert(rows(2)._2 === "see <URL> and <URL> then stop")
    assert(rows(3)._2 === "no pii here")
  }

  test("fingerprint is order-sensitive and deterministic") {
    val df = Seq(
      (1L, "alpha beta gamma"),
      (2L, "gamma beta alpha"),
      (3L, "alpha beta gamma")).toDF("id", "text")
      .select(col("id"), Text.fingerprint(col("text")).as("fp"))
    val m = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) === m(3L))
    assert(m(1L) !== m(2L))
    // stable across evaluations
    val again = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m === again)
  }

  test("TF-IDF ranks a doc's distinctive term above corpus-wide terms") {
    val docs = Seq(
      (0L, "common common common zebra zebra zebra zebra"),
      (1L, "common common other"),
      (2L, "common filler words here")).toDF("doc_id", "text")
    val top = graft.ops.Text.tfidfTopTerms(docs, 2)
      .filter(col("doc_id") === 0).orderBy("rank").collect()
    // zebra: tf=4, df=1 → high idf; common: tf=3 but df=3 → idf ≈ 0
    assert(top(0).getAs[String]("term") === "zebra")
    assert(top(0).getAs[Double]("tfidf") > top(1).getAs[Double]("tfidf"))
  }

  test("TF-IDF drops null-text docs instead of crashing the id encoder") {
    val docs = Seq((0L, "alpha beta gamma"), (1L, null: String))
      .toDF("doc_id", "text")
    val top = graft.ops.Text.tfidfTopTerms(docs, 5).collect()
    assert(top.map(_.getLong(0)).toSet === Set(0L))
  }

  test("vocab/novelty/repetition gates drop null-text docs end to end") {
    // the sf fixtures contain no null text, so the gates' null path only
    // gets exercised by this planted fixture (project invariant: every
    // documents-table operator needs an isNotNull + a planted-null test)
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("/root/repo/target"), "nulldocs-").toString
    Seq(
      (0L, "alpha beta alpha beta", "en", "s0", 21L),
      (1L, null: String, "en", "s0", 0L),
      (2L, "gamma delta epsilon zeta", "en", "s1", 24L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    for (gate <- Seq("txt_vocab", "txt_novelty", "txt_repetition")) {
      val out = SparkEntry.queries(gate)(spark, dir).collect()
      assert(out.nonEmpty, gate)
      gate match {
        case "txt_vocab" =>
          // null doc contributes nothing to s0's counts
          val s0 = out.find(_.getString(0) == "s0").get
          assert(s0.getLong(1) === 4L && s0.getLong(2) === 2L)
        case _ =>
          assert(out.map(_.getLong(0)).toSet === Set(0L, 2L), gate)
      }
    }
  }

  test("BM25 rewards term frequency, penalizes length, weights rare terms") {
    val docs = Seq(
      (1L, "cat dog bird fish"), // one hit
      (2L, "cat cat dog bird"), // two hits, same length → above doc 1
      (3L, "cat dog bird fish mouse horse goat sheep cow hen duck pig"),
      (4L, "rare dog bird fish"), // the corpus-rare term outweighs 'cat'
      (5L, "nothing matches here"),
      (6L, null: String))
      .toDF("doc_id", "text")
    val out = Text.bm25TopK(docs, Seq("cat", "rare"), 10)
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val rankOf = out.map { case (rk, id) => id -> rk }.toMap
    assert(!rankOf.contains(5L) && !rankOf.contains(6L))
    assert(rankOf(2L) < rankOf(1L)) // tf: two cats beat one
    assert(rankOf(1L) < rankOf(3L)) // length: same tf, shorter doc wins
    assert(rankOf(4L) < rankOf(1L)) // idf: the rarer term scores higher
  }

  test("stopword hits count only exact matches") {
    val df = Seq("the theme of the play").toDF("text")
      .select(Text.stopwordHits(Text.tokens(col("text")), Seq("the", "of")).as("n"))
    assert(df.collect()(0).getInt(0) === 3) // the, of, the — not "theme"
  }

  test("redactPiiFull: phones and IPs too; URL-embedded IPs stay in the URL") {
    val df = Seq(
      "call +1 555 010 1234 or +44 207 946 0958 now",
      "server at 10.0.42.7 fell over",
      "dash-separated 555-010-1234 is NOT the strict intl format",
      "api http://10.1.2.3/health is one URL, bare 10.1.2.4 is an IP")
      .toDF("text").select(Text.redactPiiFull(col("text")).as("r"))
    val rows = df.collect().map(_.getString(0))
    assert(rows(0) === "call <PHONE> or <PHONE> now")
    assert(rows(1) === "server at <IP> fell over")
    assert(rows(2) === "dash-separated 555-010-1234 is NOT the strict intl format")
    // URL redaction runs before IP redaction, so the embedded address
    // disappears inside <URL> instead of splitting it
    assert(rows(3) === "api <URL> is one URL, bare <IP> is an IP")
  }

  test("removeBoilerplate drops cross-document lines, keeps order, " +
      "drops all-boilerplate docs") {
    val banner = "subscribe to our newsletter"
    val legal = "all rights reserved"
    val docs = Seq(
      (1L, s"$banner\nunique alpha\n$legal\nunique beta"),
      (2L, s"$banner\nsomething else entirely\n$legal"),
      (3L, s"$banner\n$legal"), // all boilerplate → drops out
      (4L, "standalone document with its own text")).toDF("doc_id", "text")
    val out = Text.removeBoilerplate(docs, minDocs = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(out(1L) === ((2L, "unique alpha\nunique beta")))
    assert(out(2L) === ((1L, "something else entirely")))
    assert(!out.contains(3L))
    assert(out(4L) === ((1L, "standalone document with its own text")))
    // minDocs above every df keeps everything
    val loose = Text.removeBoilerplate(docs, minDocs = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(loose === Map(1L -> 4L, 2L -> 3L, 3L -> 2L, 4L -> 1L))
    // a repeated line WITHIN one doc is not boilerplate (distinct docs)
    val within = Seq((7L, "echo\necho\nbody")).toDF("doc_id", "text")
    val w = Text.removeBoilerplate(within, minDocs = 2).collect()
    assert(w.head.getLong(1) === 3L)
  }

  test("removeBoilerplate minDocs = 1: a line seen only under null doc " +
      "ids has df 0 and is kept") {
    val docs = Seq((Some(1L), "alpha\nbeta"), (None, "gamma\ndelta"))
      .toDF("doc_id", "text")
    val out = Text.removeBoilerplate(docs, minDocs = 1).collect()
      .map(r => (Option(r.get(0)), r.getLong(1), r.getString(2))).toSeq
    // every line of doc 1 occurs in one distinct doc (≥ 1: boilerplate);
    // the null-id lines occur in none
    assert(out === Seq((None, 2L, "gamma\ndelta")))
  }

  test("gopherFlags: each rule fires on its planted violation and only there") {
    val good = (Seq.fill(8)("the quick brown fox jumps over that lazy dog " +
      "with some more words here and there to reach fifty of them total")
      ).mkString(" ") // 160 words, mean len ~4, all alpha, stopwords the/that/with
    val docs = Seq(
      (1L, "s", good),
      (2L, "s", "too short to pass the word count rule with only these"),
      (3L, "s", good + " " + Seq.fill(120)("a").mkString(" ")), // mean wlen < 3
      (4L, "s", good + " " + Seq.fill(20)("###").mkString(" ")), // symbols
      (5L, "s", good + " " + Seq.fill(50)("12345").mkString(" ")), // non-alpha
      (6L, "s", Seq.fill(60)("zork blat quux").mkString(" "))) // no stopwords
      .toDF("doc_id", "source", "text")
    val f = Text.gopherFlags(docs).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(2), r.getBoolean(3),
        r.getBoolean(4), r.getBoolean(5), r.getBoolean(6))).toMap
    assert(f(1L) === ((false, false, false, false, false)))
    assert(f(2L)._1 === true)  // word count
    assert(f(3L)._2 === true)  // mean word length
    assert(f(3L)._1 === false)
    assert(f(4L)._3 === true)  // symbol ratio
    assert(f(5L)._4 === true)  // alpha ratio
    assert(f(6L)._5 === true)  // stopwords
    assert(f(6L)._4 === false)
  }

  test("perplexity: common-word docs score lower than rare/OOV docs; " +
    "OOV terms score as count zero") {
    // corpus: 'common' dominates; 'rare*' terms fall outside a cap of 2
    val docs = (Seq((1L, Seq.fill(40)("common").mkString(" ")),
      (2L, Seq.fill(40)("filler").mkString(" "))) ++
      (3L to 12L).map(i => (i, s"rare$i oddity$i")))
      .toDF("doc_id", "text")
    val rows = Text.perplexity(docs, vocabCap = 2).collect()
    val out = rows.map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val oov = rows.map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(oov(1L) === 0L) // all in-vocab
    assert(oov(3L) === 2L) // both tokens OOV under cap 2
    // docs of the two in-vocab words are far more probable than OOV docs
    assert(out(1L) < out(3L))
    assert(out(2L) < out(3L))
    // every OOV term has the same smoothed prob → identical ppl across
    // distinct OOV docs (they'd differ if counts leaked past the cap)
    assert(math.abs(out(3L) - out(4L)) < 1e-12)
    // hand-check doc 1: n=100 tokens total corpus? compute exactly:
    // N = 40+40+20 = 100, V = 2 + 20 = 22; p(common) = 41/122
    val expected = math.exp(-math.log(41.0 / 122.0))
    assert(math.abs(out(1L) - expected) < 1e-9)
  }

  test("bpePairCounts: pair counts weight by word frequency, " +
    "single-char words contribute nothing") {
    val docs = Seq(
      (1L, "abab abab x"), // 'abab' freq 2 here...
      (2L, "abab ab")      // ...+1 here = 3; 'ab' freq 1
    ).toDF("doc_id", "text")
    val m = Text.bpePairCounts(docs, 10).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // 'abab' has windows ab,ba,ab → ab×2, ba×1 per occurrence (freq 3);
    // 'ab' adds ab×1 → ab = 3*2+1 = 7, ba = 3, 'x' contributes nothing
    assert(m("ab") === 7L)
    assert(m("ba") === 3L)
    assert(!m.contains("x"))
  }

  test("bpeApply: guarded double-replace reaches the fixpoint") {
    val df = Seq(" a b a b a b ", " a a a a a ", " x a b y ", " xa b ")
      .toDF("seq").select(Text.bpeApply(col("seq"), "a b").as("s"))
    val got = df.collect().map(_.getString(0))
    assert(got(0) === " ab ab ab ")   // adjacent run all merges
    assert(got(1) === " a a a a a ")  // wrong pair: untouched
    assert(got(2) === " x ab y ")
    assert(got(3) === " xa b ")       // no cross-symbol false match
    val aa = Seq(" a a a a a ").toDF("seq")
      .select(Text.bpeApply(col("seq"), "a a").as("s")).head().getString(0)
    assert(aa === " aa a aa ")        // documented guarded-replace order
  }

  test("bpeTrain learns the classic merges; bpeEncode round-trips") {
    // the textbook BPE corpus: low×5, lower×2, newest×6, widest×3
    val docs = Seq(
      (1L, Seq.fill(5)("low").mkString(" ")),
      (2L, Seq.fill(2)("lower").mkString(" ")),
      (3L, Seq.fill(6)("newest").mkString(" ")),
      (4L, Seq.fill(3)("widest").mkString(" "))).toDF("doc_id", "text")
    val (merges, vocab) = Text.bpeTrain(docs, 4)
    // round 1: 'es' (newest 6 + widest 3 = 9); round 2: 'es t' → 'est' (9);
    // round 3: 'lo' (low 5 + lower 2 = 7); round 4: 'lo w' → 'low' (7)
    assert(merges === Seq("e s", "es t", "l o", "lo w"))
    val seqs = vocab.collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    assert(seqs("newest") === " n e w est ")
    assert(seqs("low") === " low ")
    assert(seqs("lower") === " low e r ")
    // encode: n_syms counts the learned segmentation per doc
    val enc = Text.bpeEncode(docs, 4).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(enc.toSeq === Seq(
      (1L, 5L),      // low → 1 symbol × 5
      (2L, 2L * 3),  // lower → low e r
      (3L, 6L * 4),  // newest → n e w est
      (4L, 3L * 4))) // widest → w i d est
  }
}
