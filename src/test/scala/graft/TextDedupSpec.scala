package graft

import org.apache.spark.sql.functions._
import graft.llm.{Dedup, Similarity, Text}

class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  test("native word shingles match the HOF formulation bit-for-bit") {
    val edge = Seq("", " ", "a", "a b", "one two three four five six",
      "a a a a a a", "tabs\tand\nnewlines  mixed   spaces",
      "  leading and trailing  ", null.asInstanceOf[String]).toDF("text")
    val corpus = table("documents").select(col("text")).unionAll(edge)
    for (n <- Seq(1, 3, 5)) {
      val r = corpus.select(
        Dedup.wordShingles(col("text"), n).as("nat"),
        Dedup.wordShinglesHof(col("text"), n).as("hof"),
        graft.plans.TextExpressions.wordShingleHashes(col("text"), n).as("nath"),
        array_sort(transform(Dedup.wordShinglesHof(col("text"), n),
          s => xxhash64(s))).as("hofh"))
        .as[(Seq[String], Seq[String], Seq[Long], Seq[Long])].collect()
      r.zipWithIndex.foreach { case ((nat, hof, nath, hofh), i) =>
        assert(nat == hof, s"n=$n row $i: shingles $nat != $hof")
        assert(nath == hofh, s"n=$n row $i: hashes $nath != $hofh")
      }
    }
  }

  test("native minhash matches the HOF fold and the explode-agg bulk form bit-for-bit") {
    val edge = Seq((9000001L, ""), (9000002L, "a"), (9000003L, "a b c d e f g"),
      (9000004L, "dup dup dup dup dup dup"),
      (9000005L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val corpus = table("documents").select(col("doc_id"), col("text"))
      .unionAll(edge)
    for (n <- Seq(1, 5); numHashes <- Seq(8, 32)) {
      // per-row HOF fold over the same shingles vs native kernel
      val r = corpus.select(col("doc_id"),
          Dedup.minhashSignature(Dedup.wordShingles(col("text"), n), numHashes)
            .as("hof"),
          graft.plans.TextExpressions.minhash(col("text"), n, numHashes)
            .as("nat"))
        .collect()
      r.foreach { row =>
        if (row.isNullAt(2))
          // null text: native = null signature; the HOF fold's
          // array(array_min(null)...) is the all-null array — both
          // mean "no signature" and neither can ever band-match
          assert(row.isNullAt(1) ||
            row.getSeq[Any](1).forall(_ == null), s"null mismatch: $row")
        else
          assert(!row.isNullAt(1) &&
            row.getSeq[Long](1) == row.getSeq[Long](2),
            s"n=$n k=$numHashes signature mismatch: $row")
      }
      // bulk native vs the explode-agg reference (which drops
      // null-text docs; native marks them with a null signature)
      val nat = Dedup.minhashSignatures(corpus, "doc_id", "text", n, numHashes)
        .filter(col("__sig").isNotNull)
        .orderBy("doc_id").as[(Long, Seq[Long])].collect().toSeq
      val agg = Dedup.minhashSignaturesAgg(corpus, "doc_id", "text", n, numHashes)
        .orderBy("doc_id").as[(Long, Seq[Long])].collect().toSeq
      assert(nat.nonEmpty && nat == agg, s"n=$n k=$numHashes bulk mismatch")
    }
  }

  test("native simhash matches the HOF fold and the explode-agg bulk form bit-for-bit") {
    val edge = Seq((9000001L, ""), (9000002L, " "), (9000003L, "a"),
      (9000004L, "a b a b a"), (9000005L, "Tabs\tAnd\nNEWLINES  Mixed"),
      (9000006L, "  leading trailing  "),
      (9000007L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val corpus = table("documents").select(col("doc_id"), col("text"))
      .unionAll(edge)
    // per-row HOF fold vs native kernel (null text -> null signature)
    val perRow = corpus.select(col("doc_id"),
        Dedup.simhash(col("text")).as("hof"),
        graft.plans.TextExpressions.simhash(col("text")).as("nat"))
      .collect()
    perRow.foreach { r =>
      assert(r.isNullAt(1) == r.isNullAt(2), s"null mismatch: $r")
      if (!r.isNullAt(1))
        assert(r.getLong(1) == r.getLong(2), s"simhash mismatch: $r")
    }
    // bulk path vs the declarative explode-agg reference: identical
    // signatures for every doc the agg form emits (it drops null-text
    // docs, whose native signature is null and can never band-join)
    val nat = Dedup.simhashSignatures(corpus, "doc_id", "text")
      .filter(col("__sig").isNotNull)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    val agg = Dedup.simhashSignaturesAgg(corpus, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(nat.nonEmpty && nat == agg)
  }

  test("native array n-grams match the HOF formulation bit-for-bit") {
    import graft.llm.Search
    val edge = Seq("", "one", "one two", "a a a a", "Mixed CASE tokens, with. punct!",
      null.asInstanceOf[String]).toDF("text")
    // null ELEMENTS can't come from the tokenizer but can from caller
    // arrays: the HOF's concat_ws turns them into "" even at n=1
    val nullElems = Seq(Seq("a", null, "b")).toDF("__toks")
    for (n <- Seq(1, 2)) {
      val r = nullElems.select(
        graft.plans.TextExpressions.arrayNgrams(col("__toks"), n).as("nat"),
        Search.ngramsHof(col("__toks"), n).as("hof"))
        .as[(Seq[String], Seq[String])].head()
      assert(r._1 == r._2, s"null-element n=$n: ${r._1} != ${r._2}")
    }
    val corpus = table("documents").select(col("text")).unionAll(edge)
      .select(Search.tokens(col("text")).as("__toks"))
    for (n <- Seq(1, 2, 4)) {
      val r = corpus.select(
        graft.plans.TextExpressions.arrayNgrams(col("__toks"), n).as("nat"),
        Search.ngramsHof(col("__toks"), n).as("hof"))
        .as[(Seq[String], Seq[String])].collect()
      r.zipWithIndex.foreach { case ((nat, hof), i) =>
        assert(nat == hof, s"n=$n row $i: $nat != $hof")
      }
    }
  }

  test("tokenCount / bpeishTokenCount on known strings") {
    val df = Seq("hello  world", "a,b c!", "").toDF("t")
    val r = df.select(Text.tokenCount(col("t")), Text.bpeishTokenCount(col("t")))
      .as[(Int, Int)].collect()
    assert(r(0) == ((2, 2)))
    assert(r(1) == ((2, 5))) // a | , | b | " c" | !
    assert(r(2) == ((0, 0)))
  }

  test("langId picks the language with the most marker hits") {
    val df = Seq(
      "the cat and the dog is here",
      "der hund und die katze ist da",
      "le chat et la maison est grande",
      "el perro y los gatos las casas").toDF("t")
    val r = df.select(Text.langId(col("t"))).as[String].collect()
    assert(r.toSeq == Seq("en", "de", "fr", "es"))
  }

  test("qualityScore is bounded and monotone in stopword richness") {
    val df = Seq(
      "the cat and the dog is in the house of a friend",
      "zxqw kjhg poiu mnbv").toDF("t")
    val r = df.select(Text.qualityScore(col("t"))).as[Double].collect()
    assert(r.forall(s => s >= 0.0 && s <= 1.0))
    assert(r(0) > r(1))
  }

  test("shingleFingerprint is edit-robust where md5 is not") {
    val a = "the quick brown fox jumps over the lazy dog in the morning"
    val b = a + "!" // tiny suffix edit
    val df = Seq(a, b).toDF("t")
    val r = df.select(Text.fingerprint(col("t")), Text.shingleFingerprint(col("t")))
      .as[(String, String)].collect()
    assert(r(0)._1 != r(1)._1)   // exact hash differs
    assert(r(0)._2 == r(1)._2)   // min-shingle hash survives the edit
  }

  test("exact dedup keeps the min-id row per content group") {
    val df = Seq((5L, "same"), (2L, "same"), (9L, "other")).toDF("doc_id", "text")
    val groups = Dedup.exactGroups(df, "doc_id", "text").orderBy("keep_id")
      .select("n_dups", "keep_id").as[(Long, Long)].collect()
    assert(groups.toSeq == Seq((2L, 2L), (1L, 9L)))
    val kept = Dedup.exact(df, "doc_id", "text").select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(2L, 9L))
  }

  test("tokenDriftPsi: zero for identical snapshots, flags a vocabulary flood") {
    val base = table("documents").select(col("doc_id"), col("text"))
    val same = Text.tokenDriftPsi(base, base, "text", topK = 20).head()
    assert(same.getDouble(same.fieldIndex("psi")) == 0.0)
    assert(!same.getBoolean(same.fieldIndex("drifted")))
    // flood the current snapshot with an out-of-vocabulary token mass
    // comparable to the docs themselves (~50% of each doc's tokens)
    val flooded = base.withColumn("text",
      concat(col("text"), repeat(lit(" zzspam"), 50)))
    val drift = Text.tokenDriftPsi(base, flooded, "text", topK = 20).head()
    assert(drift.getBoolean(drift.fieldIndex("drifted")))
    // an empty snapshot reports counts but null psi
    val e = Text.tokenDriftPsi(base, base.filter(lit(false)), "text").head()
    assert(e.getLong(e.fieldIndex("n_cur")) == 0L && e.isNullAt(e.fieldIndex("psi")))
  }

  test("bigramLmScore matches a hand-computed bigram model") {
    // corpus: "a b" x2 and "a c" — bigrams: (a,b):2, (a,c):1;
    // unigrams: a:3, b:2, c:1; vocab V=3, k=0.5
    val df = Seq((1L, "a b"), (2L, "a b"), (3L, "a c"), (4L, "solo"))
      .toDF("doc_id", "text")
    val r = Text.bigramLmScore(df, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Double)].collect().toSeq
    def term(c12: Long, c1: Long) = {
      // mirror the engine: term rounds into decimal(,6) inside the sum
      val t = math.log((c12 + 0.5) / (c1 + 0.5 * 4)) // V=4 (a,b,c,solo)
      BigDecimal(t).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    def sc(t: Double) =
      BigDecimal(t).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.map(_._1) == Seq(1L, 2L, 3L)) // "solo" has no bigrams → absent
    assert(r(0)._2 == 1L && r(0)._3 == sc(term(2, 3)))
    assert(r(1)._3 == r(0)._3) // identical docs score identically
    assert(r(2)._3 == sc(term(1, 3)))
    assert(r(0)._3 > r(2)._3) // the more probable transition scores higher
  }

  test("bloom decontamination equals the exact join, even with a saturated filter") {
    val docs = table("documents").select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") % 97 =!= 0)
    val bench = docs.filter(col("doc_id") % 97 === 0)
    def sorted(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("doc_id").as[(Long, Long)].collect().toSeq
    val exact = sorted(Dedup.ngramContamination(corpus, bench, "doc_id", "text"))
    assert(exact.nonEmpty)
    // honest sizing AND a deliberately saturated 64-BIT filter: nearly
    // every probe is a false positive, so only the verify join keeps
    // the output exact — the property the design claims
    assert(sorted(Dedup.ngramContaminationBloom(corpus, bench, "doc_id", "text")) == exact)
    assert(sorted(Dedup.ngramContaminationBloom(corpus, bench, "doc_id", "text",
      numBitsOverride = 64L)) == exact)
    // empty benchmark → empty result with the right shape
    val none = Dedup.ngramContaminationBloom(corpus, bench.filter(lit(false)),
      "doc_id", "text")
    assert(none.columns.toSeq == Seq("doc_id", "n_shared") && none.count() == 0L)
    GraftSession.releaseAll(spark)
  }

  test("dedupAgainstHistory drops exactly the rows whose content history holds") {
    val history = Seq((1L, "seen before"), (2L, "also seen")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "brand new"), (11L, "seen before"), (12L, "also seen"),
      (13L, "another new"), (14L, "seen before")).toDF("doc_id", "text")
    def ids(d: org.apache.spark.sql.DataFrame) =
      d.select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids(Dedup.dedupAgainstHistory(batch, history, "text")) == Seq(10L, 13L))
    // saturated 64-bit filter: every probe hits, the anti-join alone
    // must carry exactness
    assert(ids(Dedup.dedupAgainstHistory(batch, history, "text",
      numBitsOverride = 64L)) == Seq(10L, 13L))
    // empty history keeps everything, schema untouched
    val all = Dedup.dedupAgainstHistory(batch, history.filter(lit(false)), "text")
    assert(ids(all) == Seq(10L, 11L, 12L, 13L, 14L))
    assert(all.columns.toSeq == Seq("doc_id", "text"))
    // NULL text never matches history (null = null is not a match in
    // the NOT-EXISTS oracle) — the row must survive, not vanish into
    // neither bloom branch
    val withNull = batch.unionByName(
      Seq((15L, Option.empty[String])).toDF("doc_id", "text"))
    assert(ids(Dedup.dedupAgainstHistory(withNull, history, "text")) ==
      Seq(10L, 13L, 15L))
    GraftSession.releaseAll(spark)
  }

  test("minhashLsh finds planted near-duplicates and skips unrelated docs") {
    // 40-word doc, one word changed → word-5-gram Jaccard ≈ 0.76
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val near = base.replace("tok20", "tokX")
    val other = (1 to 40).map(i => s"other$i").mkString(" ")
    val df = Seq((1L, base), (2L, near), (3L, other)).toDF("doc_id", "text")
    val pairs = Dedup.minhashLsh(df, "doc_id", "text",
      ngramN = 5, numHashes = 32, bands = 16, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("simhashPairs finds the planted near-dup pair") {
    // long doc → stable bit votes; one changed word → small hamming.
    // (short docs flip many near-tie bits: banding only guarantees
    // recall for genuinely close signatures)
    val base = (1 to 80).map(i => s"word$i").mkString(" ")
    val near = base.replace("word40", "wordX")
    val other = "one two three four five six seven eight nine ten eleven twelve"
    val df = Seq((1L, base), (2L, near), (3L, other)).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("LSH bucket cap bounds a degenerate corpus of identical docs") {
    // 1k byte-identical docs collapse to ONE signature: every band
    // bucket would go quadratic (500k pairs per band). The cap drops
    // those buckets; exact dedup is the lossless tool for this corpus.
    val df = (1L to 1000L).map(i => (i, "same tiny doc")).toDF("doc_id", "text")
    val mh = Dedup.minhashLsh(df, "doc_id", "text",
      ngramN = 1, numHashes = 32, bands = 8, threshold = 0.5, maxBucketSize = 50)
    assert(mh.count() == 0L)
    val simh = Dedup.simhashPairs(df, "doc_id", "text",
      maxHamming = 3, maxBucketSize = 50)
    assert(simh.count() == 0L)
    // the exact pass the scaladoc prescribes catches all of them
    assert(Dedup.exact(df, "doc_id", "text").count() == 1L)
  }

  test("derived simhash banding finds pairs past the old fixed-band distance limit") {
    // two signatures differing in >= 4 spread-out bits: the old fixed
    // 4x16 banding could miss them; maxHamming+1 bands cannot
    val base = (1 to 100).map(i => s"word$i").mkString(" ")
    val near = base.replace("word10", "wordA").replace("word40", "wordB")
      .replace("word70", "wordC")
    val df = Seq((1L, base), (2L, near)).toDF("doc_id", "text")
    val sigs = Dedup.simhashSignatures(df, "doc_id", "text")
      .orderBy("doc_id").select("__sig").as[Long].collect()
    val dist = java.lang.Long.bitCount(sigs(0) ^ sigs(1))
    val pairs = Dedup.simhashPairs(df, "doc_id", "text", maxHamming = math.max(dist, 1))
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairs.toSeq == Seq((1L, 2L)), s"hamming=$dist must be found by construction")
  }

  test("blocked (native intersect) and inverted-index jaccard agree on real data") {
    val docs = table("documents")
    val idx = Dedup.ngramJaccardPairs(docs, "doc_id", "text", Seq("lang"), 1, 0.7)
      .select("id_a", "id_b", "jacc").as[(Long, Long, Double)].collect().toSet
    val blk = Dedup.ngramJaccardPairsBlocked(docs, "doc_id", "text", Seq("lang"), 1, 0.7)
      .select("id_a", "id_b", "jacc").as[(Long, Long, Double)].collect().toSet
    assert(idx == blk && idx.nonEmpty)
  }

  test("prefix-filtered and auto jaccard agree with blocked on real data") {
    val docs = table("documents")
    val blk = Dedup.ngramJaccardPairsBlocked(docs, "doc_id", "text", Seq("lang"), 1, 0.7)
      .select("id_a", "id_b", "jacc").as[(Long, Long, Double)].collect().toSet
    val pfx = Dedup.ngramJaccardPairsPrefix(docs, "doc_id", "text", Seq("lang"), 1, 0.7)
      .select("id_a", "id_b", "jacc").as[(Long, Long, Double)].collect().toSet
    val auto = Dedup.ngramJaccardPairsAuto(docs, "doc_id", "text", Seq("lang"), 1, 0.7)
      .select("id_a", "id_b", "jacc").as[(Long, Long, Double)].collect().toSet
    assert(pfx == blk && auto == blk && blk.nonEmpty)
  }

  test("auto jaccard routes a deliberately skewed mega-block without a pair explosion") {
    // one block holds 80% of docs; cap forces it through the prefix path
    // while the small block stays on the dense all-pairs path
    val mega = (1 to 400).map { i =>
      val words = (0 until 20).map(w => s"w${(i * 7 + w * 13) % 60}").distinct.mkString(" ")
      (i.toLong, s"base common tokens here $words", "big")
    }
    val small = (401 to 500).map(i => (i.toLong, s"doc $i unique content alpha beta", "small"))
    val df = (mega ++ small).toDF("doc_id", "text", "grp")
    val capped = Dedup.ngramJaccardPairsAuto(df, "doc_id", "text", Seq("grp"),
        n = 1, threshold = 0.8, maxBlockSize = 200)
      .select("id_a", "id_b", "jacc").as[(Long, Long, Double)].collect().toSet
    val reference = Dedup.ngramJaccardPairsBlocked(df, "doc_id", "text", Seq("grp"),
        n = 1, threshold = 0.8)
      .select("id_a", "id_b", "jacc").as[(Long, Long, Double)].collect().toSet
    assert(capped == reference) // exact routing: no recall loss either side of the cap
  }

  test("null block values drop identically on every jaccard strategy") {
    val df = Seq(
      (1L, "a b c d", "g1"), (2L, "a b c d", "g1"),
      (3L, "x y z w", null.asInstanceOf[String]),
      (4L, "x y z w", null.asInstanceOf[String])).toDF("doc_id", "text", "grp")
    def s(d: org.apache.spark.sql.DataFrame) =
      d.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val blocked = s(Dedup.ngramJaccardPairsBlocked(df, "doc_id", "text", Seq("grp"), 1, 0.8))
    val prefix = s(Dedup.ngramJaccardPairsPrefix(df, "doc_id", "text", Seq("grp"), 1, 0.8))
    val auto = s(Dedup.ngramJaccardPairsAuto(df, "doc_id", "text", Seq("grp"), 1, 0.8))
    // equi-join semantics: NULL never matches, so (3,4) must not pair anywhere
    assert(blocked == Set((1L, 2L)) && prefix == blocked && auto == blocked)
  }

  test("wordShingles keeps array_join-over-short-slice semantics for docs shorter than n") {
    val df = Seq("a b", "a", "a b c d").toDF("t")
    val r = df.select(Dedup.wordShingles(col("t"), 3)).as[Seq[String]].collect()
    assert(r(0) == Seq("a b"))        // 2 tokens, n=3 → one truncated shingle
    assert(r(1) == Seq("a"))
    assert(r(2) == Seq("a b c", "b c d"))
  }

  test("ngramJaccardPairs respects the blocking column") {
    val df = Seq(
      (1L, "a b c d", "g1"), (2L, "a b c e", "g1"),
      (3L, "a b c d", "g2")).toDF("doc_id", "text", "grp")
    val pairs = Dedup.ngramJaccardPairs(df, "doc_id", "text", Seq("grp"), n = 1, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairs.toSeq == Seq((1L, 2L))) // 3 is identical to 1 but blocked apart
  }

  test("native graft_dot matches the HOF dot product bit-for-bit") {
    val e = table("embeddings").limit(200)
    val paired = e.select(col("embedding").as("a"))
      .crossJoin(e.select(col("embedding").as("b")).limit(50))
    val diff = paired.select(
      (Similarity.dot(col("a"), col("b")) -
        Similarity.dotHof(col("a"), col("b"))).as("d"))
      .agg(max(abs(col("d")))).as[Double].head()
    assert(diff == 0.0) // identical accumulation order → identical doubles
    // SQL registration via GraftExtensions
    val viaSql = spark.sql(
      "SELECT graft_dot(array(cast(1.0 as float), cast(2.0 as float)), " +
        "array(cast(3.0 as float), cast(4.0 as float)))").as[Double].head()
    assert(viaSql == 11.0)
  }

  test("graft_dot nulls on an interior null element, like the HOF sum") {
    val fnull = lit(null).cast("float")
    val df = spark.range(1).select(
      array(lit(1f), fnull, lit(3f)).as("a"),
      array(lit(4f), lit(5f), lit(6f)).as("b"))
    val r = df.select(
      Similarity.dot(col("a"), col("b")).as("native"),
      Similarity.dotHof(col("a"), col("b")).as("hof"),
      Similarity.dot(col("b"), col("b")).as("clean")).head()
    assert(r.isNullAt(0), "native dot must null on a null element")
    assert(r.isNullAt(1), "HOF reference nulls on a null element")
    assert(r.getDouble(2) == 77.0)
  }

  test("hyperplane buckets accept non-float numeric arrays via auto-cast") {
    val doubles = spark.range(20).select(col("id"),
      array(col("id").cast("double") - 10.0, (col("id") * 3 % 7).cast("double"),
        (col("id") * 5 % 11).cast("double") - 5.0).as("v"))
    val viaDouble = doubles
      .select(col("id"), Similarity.hyperplaneBucket(col("v"), 4).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaFloat = doubles
      .select(col("id"), Similarity.hyperplaneBucket(
        col("v").cast("array<float>"), 4).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaDouble == viaFloat && viaDouble.nonEmpty)
  }

  test("minhashLsh emits no bands for null-text docs") {
    // many null docs + one planted near-dup pair: pre-fix, every null
    // doc shared one (band, hash(seed)) bucket and band-joined
    // quadratically before Jaccard filtered the junk pairs out
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val docs = (Seq(
      (1L, base + " alpha beta gamma delta"),
      (2L, base + " alpha beta gamma epsilon"),
      (3L, "completely unrelated text about spark catalyst expression codegen")
    ) ++ (100L to 140L).map(i => (i, null: String))).toDF("doc_id", "text")
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text",
        ngramN = 3, numHashes = 16, bands = 8, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(pairs == Seq((1L, 2L)), s"got $pairs")
    // and the planted detector's output is unchanged by null docs:
    // the same frame minus the nulls produces the identical pair set
    val clean = Dedup.minhashLsh(docs.filter(col("text").isNotNull),
        "doc_id", "text", ngramN = 3, numHashes = 16, bands = 8, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(clean == pairs)
  }

  test("cosine and bruteForceTopK rank by similarity") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val top = Similarity.bruteForceTopK(vecs, q, "vec_id", "query_id", "embedding", k = 2)
      .orderBy("rnk").select("neighbor_id").as[Long].collect()
    assert(top.toSeq == Seq(1L, 2L))
  }

  test("lshTopK achieves reasonable recall vs brute force on real embeddings") {
    val e = table("embeddings")
    val q = e.filter(col("vec_id") < 5).select(col("vec_id").as("query_id"), col("embedding"))
    val exact = Similarity.bruteForceTopK(e, q, "vec_id", "query_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshTopK(e, q, "vec_id", "query_id", "embedding", k = 5, planes = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.2, s"recall=$recall") // 2 planes = 4 buckets → ~1/4 corpus searched
  }

  test("partition-pruned brute force matches the declarative top-k row-for-row") {
    val e = table("embeddings").repartition(7) // force multiple partitions
    val q = e.filter(col("vec_id") < 8).select(col("vec_id").as("query_id"), col("embedding"))
    val declarative = graft.llm.Similarity
      .bruteForceTopK(e, q, "vec_id", "query_id", "embedding", k = 5)
      .select("query_id", "neighbor_id", "sim", "rnk")
      .as[(Long, Long, Double, Long)].collect().toSet
    val pruned = graft.llm.Similarity
      .bruteForceTopKPartitioned(e, q, "vec_id", "query_id", "embedding", k = 5)
      .select("query_id", "neighbor_id", "sim", "rnk")
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(pruned == declarative)
  }

  test("IVF index + probe achieves reasonable recall vs brute force") {
    val e = table("embeddings")
    val q = e.filter(col("vec_id") < 5).select(col("vec_id").as("query_id"), col("embedding"))
    val exact = graft.llm.Similarity
      .bruteForceTopK(e, q, "vec_id", "query_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val index = graft.llm.Ivf.buildIndex(e, "vec_id", "embedding", nlist = 4, iters = 2)
    val approx = graft.llm.Ivf
      .topK(index, q, "vec_id", "query_id", "embedding", k = 5, nprobe = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.3, s"recall=$recall") // 2 of 4 cells scanned
    // determinism: rebuilding the index yields identical assignments
    val again = graft.llm.Ivf.buildIndex(e, "vec_id", "embedding", nlist = 4, iters = 2)
      .select("vec_id", "__cid").as[(Long, Int)].collect().toSet
    val first = index.select("vec_id", "__cid").as[(Long, Int)].collect().toSet
    assert(again == first)
    // precomputed (persisted-once) centroids give identical results to
    // the per-call aggregation
    val cents = graft.llm.Ivf.centroids(index, "embedding")
    val viaCents = graft.llm.Ivf
      .topK(index, q, "vec_id", "query_id", "embedding", k = 5, nprobe = 2,
        cellCentroids = Some(cents))
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(viaCents == approx)
  }

  test("embeddingNearDup finds identical vectors within a block") {
    val vecs = Seq(
      (1L, Array(1.0f, 2.0f), "b1"), (2L, Array(1.0f, 2.0f), "b1"),
      (3L, Array(1.0f, 2.0f), "b2"), (4L, Array(-5.0f, 1.0f), "b1"))
      .toDF("vec_id", "embedding", "blk")
    val pairs = Dedup.embeddingNearDup(vecs, "vec_id", "embedding", "blk", 0.999)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("minhashAgainstHistory: stored-signature screen, no history text recompute") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val history = Seq(
      (1L, base),
      (2L, "completely different historical content about spark engines at scale"),
      (3L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val sigs = Dedup.minhashHistorySignatures(history, "doc_id", "text")
    // the stored table carries NO text — screening structurally cannot
    // re-shingle history
    assert(sigs.columns.toSeq == Seq("doc_id", "__sig", "__shash"))
    val batch = Seq(
      (10L, base),                                                  // exact copy
      (11L, "jumps over the lazy dog again and again the quick brown fox"), // rotation: J = 1/3
      (12L, "entirely novel crawl content never seen before in any batch"),
      (13L, null.asInstanceOf[String]),                             // null never matches
      (14L, "the quick brown fox jumps over the lazy dog again and tomorrow") // 1 shingle of 8 changed: J = 7/9
    ).toDF("doc_id", "text")
    // threshold 1.0: only the exact shingle-set copy drops
    val exact = Dedup.minhashAgainstHistory(batch, sigs, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(exact == Seq(11L, 12L, 13L, 14L))
    // near threshold (estimate verification): the 7/9-Jaccard variant
    // drops, novel/null rows survive. The 1/3-Jaccard rotation ALSO
    // drops here — with only ~8-shingle sets the 32-hash estimator's
    // quantization noise spans ±several/32 around the true Jaccard,
    // and this fixed hash family lands it at >= 0.5; that coarseness
    // on tiny documents is inherent to the estimator (the scaladoc's
    // ±1/sqrt(numHashes) caveat), deterministic, and pinned here.
    val near = Dedup.minhashAgainstHistory(batch, sigs, "doc_id", "text",
        threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(near == Seq(12L, 13L))
    // the stored table survives a parquet round-trip (the artifact IS
    // meant to be persisted and appended across crawl batches)
    val dir = scratchDir("graft_mh_hist")
      .toString + "/sigs"
    sigs.write.parquet(dir)
    val reloaded = spark.read.parquet(dir)
    val viaDisk = Dedup.minhashAgainstHistory(batch, reloaded, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(viaDisk == exact)
  }

  test("simhashAgainstHistory: token-multiset screen over stored signatures") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog"
    val history = Seq(
      (1L, base),
      (2L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val sigs = Dedup.simhashSignatures(history, "doc_id", "text")
    assert(sigs.columns.toSeq == Seq("doc_id", "__sig"))
    val batch = Seq(
      (10L, base),                                              // exact copy
      (11L, "dog lazy the over jumps fox brown quick the"),     // same MULTISET → same sig
      (12L, "entirely novel crawl content never seen anywhere"),
      (13L, null.asInstanceOf[String])                          // null survives
    ).toDF("doc_id", "text")
    val kept = Dedup.simhashAgainstHistory(batch, sigs, "doc_id", "text",
        maxHamming = 0)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(12L, 13L))
    // empty history screens nothing
    assert(Dedup.simhashAgainstHistory(batch, sigs.filter(lit(false)),
      "doc_id", "text").count() == 4L)
  }

  test("semanticNearDup nlist=1 degenerates to exact unblocked all-pairs") {
    val e = table("embeddings")
    val exact = Dedup.embeddingNearDup(
        e.withColumn("__one", lit(1)), "vec_id", "embedding", "__one", 0.2)
      .orderBy("id_a", "id_b").collect().toSeq
    val sem = Dedup.semanticNearDupAt(e, "vec_id", "embedding",
        nlist = 1, threshold = 0.2)
      .orderBy("id_a", "id_b").collect().toSeq
    assert(sem == exact && sem.nonEmpty)
  }

  test("semanticNearDup auto wrapper equals the explicit form at nlistFor(n)") {
    val e = table("embeddings")
    val n = e.count()
    val auto = Dedup.semanticNearDup(e, "vec_id", "embedding",
        targetCellSize = 256, threshold = 0.4)
      .orderBy("id_a", "id_b").collect().toSeq
    val manual = Dedup.semanticNearDupAt(e, "vec_id", "embedding",
        nlist = graft.llm.Ivf.nlistFor(n), threshold = 0.4,
        hotCellCap = 4 * 256)
      .orderBy("id_a", "id_b").collect().toSeq
    assert(auto == manual && auto.nonEmpty)
  }

  test("semanticNearDup keyed form (memoized quantizer) is row-identical to the unkeyed form") {
    graft.llm.Ivf.clearIndexCache()
    val e = table("embeddings")
    val unkeyed = Dedup.semanticNearDup(e, "vec_id", "embedding",
        targetCellSize = 256, threshold = 0.4)
      .orderBy("id_a", "id_b").collect().toSeq
    val keyed = Dedup.semanticNearDup(e, "vec_id", "embedding",
        targetCellSize = 256, threshold = 0.4, indexKey = Some("spec-sem"))
      .orderBy("id_a", "id_b").collect().toSeq
    // second keyed call is a pure memo HIT — still identical
    val keyedHit = Dedup.semanticNearDup(e, "vec_id", "embedding",
        targetCellSize = 256, threshold = 0.4, indexKey = Some("spec-sem"))
      .orderBy("id_a", "id_b").collect().toSeq
    assert(unkeyed.nonEmpty && keyed == unkeyed && keyedHit == unkeyed)
    graft.llm.Ivf.clearIndexCache()
  }

  test("semanticNearDup: subset of exact with identical sims, exact dups never lost") {
    // a tight planted cluster + exact duplicates + background noise
    val base = (1 to 150).map { i =>
      val r = new scala.util.Random(i * 9176)
      val v =
        if (i <= 30) Array.fill(8)(0.9f + r.nextFloat() * 0.05f) // cluster
        else Array.fill(8)(r.nextFloat() * 2f - 1f)              // noise
      (i.toLong, v)
    }
    val dups = Seq((9001L, base(2)._2.clone()), (9002L, base(40)._2.clone()))
    val vecs = (base ++ dups).toDF("vec_id", "embedding")
    val exact = Dedup.embeddingNearDup(
        vecs.withColumn("__one", lit(1)), "vec_id", "embedding", "__one", 0.95)
      .select("id_a", "id_b", "sim").as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    // forced tiny cells + forced hot-cell refinement: the stress point
    val sem = Dedup.semanticNearDupAt(vecs, "vec_id", "embedding",
        nlist = 8, threshold = 0.95, hotCellCap = 8)
      .select("id_a", "id_b", "sim").as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    // cells partition the corpus, refinement partitions cells: the
    // learned blocking can only DROP pairs, and every surviving pair
    // carries the exact rounded cosine
    assert(sem.keySet.subsetOf(exact.keySet))
    assert(sem.forall { case (k, v) => exact(k) == v })
    // identical vectors share the argmax cell and every refinement
    // plane — the planted exact duplicates always pair
    assert(sem.contains((3L, 9001L)) && sem.contains((41L, 9002L)))
  }

  test("semanticAgainstHistory: planted geometry — exact dup, in-cell near-dup, straddler, nulls, per-ID drop") {
    val cents = Seq((0, Array(1f, 0f, 0f, 0f)), (1, Array(0f, 1f, 0f, 0f)))
      .toDF("__cid", "__cvec")
    val history0 = Seq(
      (100L, Array(1f, 0f, 0f, 0f)),       // cell 0
      (101L, Array(0.1f, 0.995f, 0f, 0f)), // cell 1
      (102L, Array(0.6f, 0.8f, 0f, 0f))    // cell 1 — the straddler's mate
    ).toDF("vec_id", "embedding")
    val history = Dedup.semanticHistorySignatures(
      history0, "vec_id", "embedding", cents)
    assert(history.select(col("vec_id"), col("__cid").cast("int"))
      .as[(Long, Int)].collect().toMap ==
      Map(100L -> 0, 101L -> 1, 102L -> 1))
    val batch = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),       // exact dup of 100 → drops
      (2L, Array(0.12f, 0.99f, 0f, 0f)), // near-dup of 101, same cell → drops
      (3L, Array(0f, 0f, 1f, 0f)),       // orthogonal → survives
      // straddler: argmax cell 0 (cos 0.8 vs 0.6), but its true
      // near-dup 102 (cos 0.96 ≥ τ) sits in cell 1 — the documented
      // recall trade at nprobe=1, closed by nprobe=2
      (4L, Array(0.8f, 0.6f, 0f, 0f)),
      (5L, null.asInstanceOf[Array[Float]]) // unscorable → survives always
    ).toDF("vec_id", "embedding")
    val s1 = Dedup.semanticAgainstHistory(batch, history, cents,
        "vec_id", "embedding", threshold = 0.9)
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(s1 == Seq(3L, 4L, 5L))
    val s2 = Dedup.semanticAgainstHistory(batch, history, cents,
        "vec_id", "embedding", threshold = 0.9, nprobe = 2)
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(s2 == Seq(3L, 5L))
    // the screen is per-ID: a clean row sharing the matched id drops too
    val dupId = batch.unionAll(
      Seq((1L, Array(0f, 0f, 0f, 1f))).toDF("vec_id", "embedding"))
    val s3 = Dedup.semanticAgainstHistory(dupId, history, cents,
        "vec_id", "embedding", threshold = 0.9)
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(s3 == Seq(3L, 4L, 5L))
  }

  test("semanticAgainstHistory at nprobe=nlist equals the unblocked exact screen; survivors shrink as nprobe grows") {
    val e = table("embeddings")
    val cents = e.filter(col("vec_id") < 4)
      .select(col("vec_id").cast("int").as("__cid"),
        col("embedding").as("__cvec"))
    val hist0 = e.filter(col("vec_id") % 3 === 0)
    val history = Dedup.semanticHistorySignatures(
      hist0, "vec_id", "embedding", cents)
    val batch = e.filter(col("vec_id") % 3 =!= 0)
    // brute-force reference: anti-join on ANY history cosine ≥ τ
    val h = hist0.select(col("embedding").as("__hv"))
    val denom = Similarity.norm(col("embedding")) * Similarity.norm(col("__hv"))
    val matched = batch.crossJoin(h)
      .filter(when(denom =!= 0.0,
        round(Similarity.dot(col("embedding"), col("__hv")) / denom, 6))
        >= 0.4)
      .select("vec_id").distinct()
    val exact = batch.join(matched, Seq("vec_id"), "left_anti")
      .select("vec_id").as[Long].collect().sorted.toSeq
    def screened(p: Int) = Dedup.semanticAgainstHistory(batch, history, cents,
        "vec_id", "embedding", threshold = 0.4, nprobe = p)
      .select("vec_id").as[Long].collect().sorted.toSeq
    val Seq(p1, p2, p4) = Seq(1, 2, 4).map(screened)
    // 4 cells: probing all of them examines every (batch, history)
    // pair exactly once — the exact screen
    assert(p4 == exact && exact.nonEmpty)
    // more probes can only match MORE history — survivors only shrink
    assert(p2.toSet.subsetOf(p1.toSet) && p4.toSet.subsetOf(p2.toSet))
    assert(p1.size < batch.count()) // the screen actually drops rows
  }

  test("semantic history version handshake: stamped pass, stale/unstamped refuse, reassign restores the exact v2 screen") {
    import graft.llm.Ivf
    val base = scratchDir("graft_semver").toString
    val idxDir = s"$base/idx"
    val histDir = s"$base/history"
    // v1 quantizer: two axis cells, published through the atomic commit
    val cents1 = Seq((0, Array(1f, 0f, 0f, 0f)), (1, Array(0f, 1f, 0f, 0f)))
      .toDF("__cid", "__cvec")
    Ivf.saveIndex(cents1, idxDir)
    val (loaded1, v1) = Ivf.loadIndexVersioned(spark, idxDir)
    assert(v1 == 1L)
    val hist0 = Seq(
      (100L, Array(1f, 0f, 0f, 0f)),
      (101L, Array(0.1f, 0.995f, 0f, 0f))).toDF("vec_id", "embedding")
    val stamped = Dedup.semanticHistorySignatures(
      hist0, "vec_id", "embedding", loaded1, indexVersion = Some(v1))
    assert(stamped.select("__iv").as[Long].collect().toSeq == Seq(1L, 1L))
    graft.Recovery.idempotentWrite(stamped, histDir) // plain (un-sliced) root
    val history = spark.read.parquet(histDir)
    val batch = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),  // exact dup of 100 → drops
      (2L, Array(0f, 0f, 1f, 0f))). // orthogonal → survives
      toDF("vec_id", "embedding")
    def screen(h: org.apache.spark.sql.DataFrame,
               c: org.apache.spark.sql.DataFrame, v: Option[Long]) =
      Dedup.semanticAgainstHistory(batch, h, c, "vec_id", "embedding",
          threshold = 0.9, indexVersion = v)
        .select("vec_id").as[Long].collect().sorted.toSeq
    // matching stamp: identical to the unversioned screen
    assert(screen(history, loaded1, Some(v1)) == Seq(2L))
    assert(screen(history, loaded1, None) == Seq(2L))
    // retrain: v2 swaps the cell geometry (axes exchanged) — the stale
    // v1-stamped history must REFUSE, not silently miss
    val cents2 = Seq((0, Array(0f, 1f, 0f, 0f)), (1, Array(1f, 0f, 0f, 0f)))
      .toDF("__cid", "__cvec")
    Ivf.saveIndex(cents2, idxDir)
    val (loaded2, v2) = Ivf.loadIndexVersioned(spark, idxDir)
    assert(v2 == 2L)
    val stale = intercept[IllegalStateException](
      screen(history, loaded2, Some(v2)))
    assert(stale.getMessage.contains("reassignSemanticHistory"))
    // an UNSTAMPED history is refused too when a version is expected
    val unstamped = intercept[IllegalStateException](
      screen(history.drop("__iv"), loaded2, Some(v2)))
    assert(unstamped.getMessage.contains("__iv"))
    // repair: one argmax pass re-assigns + re-stamps in place
    assert(Dedup.reassignSemanticHistory(spark, histDir, idxDir,
      "embedding") == 1)
    val healed = spark.read.parquet(histDir)
    assert(healed.select("__iv").as[Long].collect().toSeq == Seq(2L, 2L))
    // re-assigned cells equal a from-scratch v2 assignment, and the
    // versioned screen equals the from-scratch v2 screen
    val scratch = Dedup.semanticHistorySignatures(
      hist0, "vec_id", "embedding", loaded2, indexVersion = Some(v2))
    assert(healed.orderBy("vec_id").select("vec_id", "__cid", "__iv")
      .collect().toSeq ==
      scratch.orderBy("vec_id").select("vec_id", "__cid", "__iv")
        .collect().toSeq)
    assert(screen(healed, loaded2, Some(v2)) ==
      screen(scratch, loaded2, Some(v2)))
    assert(screen(healed, loaded2, Some(v2)) == Seq(2L))
    // absent and existing-but-EMPTY roots are no-ops, never errors (an
    // operator pre-creating the dir must not crash the maintenance turn)
    assert(Dedup.reassignSemanticHistory(spark, s"$base/absent", idxDir,
      "embedding") == 0)
    val emptyRoot = s"$base/empty"
    assert(new java.io.File(emptyRoot).mkdirs())
    assert(Dedup.reassignSemanticHistory(spark, emptyRoot, idxDir,
      "embedding") == 0)
  }

  test("semanticAgainstHistory nprobe>1: duplicate batch ids keep independent probe budgets") {
    // four axis cells; rows A and B SHARE id 7 but live on different
    // axis pairs. Ranked together (the pre-r19 __bid window) the two
    // second-choice cells fall past nprobe=2 and A's cell-1 near-dup is
    // silently missed; per-row budgets probe (0,1) for A and (2,3) for
    // B, so the id drops.
    val cents = Seq(
      (0, Array(1f, 0f, 0f, 0f)), (1, Array(0f, 1f, 0f, 0f)),
      (2, Array(0f, 0f, 1f, 0f)), (3, Array(0f, 0f, 0f, 1f)))
      .toDF("__cid", "__cvec")
    val history = Dedup.semanticHistorySignatures(
      Seq((200L, Array(0.43f, 0.9f, 0f, 0f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", cents) // lands in cell 1
    val batch = Seq(
      (7L, Array(0.9f, 0.43f, 0f, 0f)),  // cells (0, 1); near-dup of 200
      (7L, Array(0f, 0f, 0.9f, 0.43f))). // cells (2, 3); clean
      toDF("vec_id", "embedding")
    val survivors = Dedup.semanticAgainstHistory(batch, history, cents,
        "vec_id", "embedding", threshold = 0.7, nprobe = 2)
      .select("vec_id").as[Long].collect()
    assert(survivors.isEmpty) // id 7 drops via A's second-probe match
    // distinct ids: only the near-dup's id drops
    val distinctIds = Seq(
      (7L, Array(0.9f, 0.43f, 0f, 0f)),
      (8L, Array(0f, 0f, 0.9f, 0.43f))).toDF("vec_id", "embedding")
    val s2 = Dedup.semanticAgainstHistory(distinctIds, history, cents,
        "vec_id", "embedding", threshold = 0.7, nprobe = 2)
      .select("vec_id").as[Long].collect().toSeq
    assert(s2 == Seq(8L))
  }

  test("lshParams places the S-curve rise at the threshold") {
    // every result is a valid divisor split
    for (t <- Seq(0.3, 0.5, 0.7, 0.9); n <- Seq(16, 32, 128)) {
      val (b, r) = Dedup.lshParams(t, n)
      assert(b * r == n && b >= 1 && r >= 1, s"t=$t n=$n -> ($b,$r)")
      // the curve's inflection (1/b)^(1/r) should land near t — within
      // the resolution the divisor lattice allows
      val inflection = math.pow(1.0 / b, 1.0 / r)
      assert(math.abs(inflection - t) < 0.25, s"t=$t n=$n infl=$inflection")
    }
    // monotone: a higher threshold never wants MORE bands (bands make
    // the curve rise earlier)
    val bandsAt = Seq(0.3, 0.5, 0.7, 0.9).map(t => Dedup.lshParams(t, 128)._1)
    assert(bandsAt == bandsAt.sorted.reverse, s"bands not monotone: $bandsAt")
    // weighting: favoring fewer false positives shifts the curve later
    // (fewer bands) or keeps it; never earlier
    val precise = Dedup.lshParams(0.7, 128, fpWeight = 0.9)._1
    val recall = Dedup.lshParams(0.7, 128, fpWeight = 0.1)._1
    assert(precise <= recall, s"fp-averse picked more bands: $precise > $recall")
    // the library default (32 hashes, 8 bands) is what the planner
    // recommends at the documented 0.6 operating point; by 0.65 the
    // optimum tips to (4, 8) in a near-tie (0.0734 vs 0.0741 loss) —
    // both assertions pin the real loss landscape, not a preference
    assert(Dedup.lshParams(0.6, 32) == ((8, 4)))
    assert(Dedup.lshParams(0.65, 32) == ((4, 8)))
  }
}
