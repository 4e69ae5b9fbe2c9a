package perfbench

/** Checks of the generators and the numeric helpers on fixed inputs; no
  * Spark session. Run with `python3 perfbench/test_perfbench.py`, or
  * directly as `perfbench.SelfTest` on the built class path. Exits 1 on the
  * first failed check. */
object SelfTest {
  private var checks = 0

  private def check(ok: Boolean, what: String): Unit = {
    checks += 1
    if (!ok) { System.err.println(s"FAIL: $what"); sys.exit(1) }
  }

  private def near(a: Double, b: Double) = math.abs(a - b) < 1e-9

  /** Every input byte a CDC workload hands the engine for `batches`
    * batches of `n` records, rendered as the records' JSON. */
  def cdcInput(seed: Long, skew: Boolean, batches: Int = 5, n: Int = 200): String = {
    val model = new OrdersModel(seed, 1000)
    val gen = new ChangeGen(model, seed, 0.4, 0.45, skew)
    val b = new StringBuilder
    (1 to batches).foreach(_ => gen.batch(n).foreach { c =>
      b.append(c.seq).append(c.op).append(Gen.keyJson(c.key))
      if (c.op != "delete") b.append(Gen.order(seed, c.key, c.version).json)
      b.append('\n')
    })
    b.toString
  }

  def corpusInput(seed: Long): String =
    CorpusGen.generate(seed, 400).map(d =>
      s"${d.docId}|${d.source}|${d.kind}|${d.origin}|${d.text}|${d.embedding.mkString(",")}")
      .mkString("\n")

  def main(args: Array[String]): Unit = {
    // percentiles: linear interpolation between closest ranks
    val xs = Seq(15.0, 20, 35, 40, 50)
    check(near(Stats.percentile(xs, 50), 35), "p50 of odd sample")
    check(near(Stats.percentile(xs, 90), 46), "p90 interpolates")
    check(near(Stats.percentile(xs, 0), 15) && near(Stats.percentile(xs, 100), 50),
      "p0/p100 are min/max")
    check(near(Stats.median(Seq(4.0, 1, 3, 2)), 2.5), "median of even sample")
    check(Stats.percentile(Nil, 50).isNaN, "empty sample is NaN")
    // ratios: nothing to divide by reports 0
    check(near(Stats.ratio(3, 4), 0.75), "ratio")
    check(Stats.ratio(5, 0) == 0.0 && Stats.ratio(Double.NaN, 1) == 0.0, "ratio guards")
    // covered length and self time
    check(Stats.coveredLength(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0, 100) == 25,
      "overlapping intervals count once")
    check(Stats.coveredLength(Seq((0L, 10L), (5L, 15L)), 8, 12) == 4, "clipped union")
    check(Stats.selfTime(100, 200, Seq((110L, 130L), (120L, 150L), (190L, 250L))) == 50,
      "self time = duration - children's covered part")
    check(Stats.selfTime(0, 10, Nil) == 10, "leaf span is all self time")
    check(Harness.cyclesFor(10, 2.5) == 4 && Harness.cyclesFor(10, 9.0) == 1,
      "timed cycles fill the run length")
    check(Harness.cyclesFor(10, 6.5, 3) == 3 && Harness.cyclesFor(1, 9.0) == 1,
      "timed cycles respect the minimum")

    // generators: same seed gives byte-identical inputs, another seed differs
    for (skew <- Seq(true, false)) {
      check(cdcInput(1, skew) == cdcInput(1, skew), s"cdc input repeats (skew=$skew)")
      check(cdcInput(1, skew) != cdcInput(2, skew), s"cdc input depends on seed (skew=$skew)")
    }
    check(corpusInput(7) == corpusInput(7), "corpus repeats")
    check(corpusInput(7) != corpusInput(8), "corpus depends on seed")

    // the CDC op mix and the model
    val model = new OrdersModel(3, 1000)
    val gen = new ChangeGen(model, 3, 0.4, 0.45, recentSkew = true)
    val cs = (1 to 10).flatMap(_ => gen.batch(2000))
    val frac = cs.groupBy(_.op).map { case (k, v) => k -> v.size.toDouble / cs.size }
    check(math.abs(frac("create") - 0.40) < 0.02 && math.abs(frac("update") - 0.45) < 0.02 &&
      math.abs(frac("delete") - 0.15) < 0.02, s"op mix ~40/45/15: $frac")
    val lastBatch = gen.batch(2000)
    val last = lastBatch.filter(_.op != "create").map(_.key.toDouble)
    check(Stats.median(last) > model.maxKey * 0.75,
      "skewed updates/deletes favour recent keys")
    check(model.live == 1000 + (cs ++ lastBatch).count(_.op == "create") -
      (cs ++ lastBatch).count(_.op == "delete"), "model live count follows creates and deletes")
    check(model.statusCount.sum == model.live, "status counts sum to live rows")

    // the corpus plants what the checks rely on
    val docs = CorpusGen.generate(5, 2000)
    val byId = docs.map(d => d.docId -> d).toMap
    val kinds = docs.groupBy(_.kind).map { case (k, v) => k -> v.size }
    check(kinds("exact") > 100 && kinds("near") > 200 && kinds("unique") > 1000,
      s"planted kinds: $kinds")
    check(docs.filter(_.kind == "exact").forall(d =>
      d.origin < d.docId && byId(d.origin).kind == "unique" && byId(d.origin).text == d.text),
      "exact duplicates copy an earlier unique doc")
    check(docs.filter(_.kind == "near").forall(d =>
      byId(d.origin).text != d.text), "near duplicates differ from their origin")
    check(docs.filter(_.kind == "unique").forall(_.text.split("\\s+").length >= 50),
      "unique docs pass the word-count quality rule")

    println(s"perfbench self-test: $checks checks passed")
  }
}
